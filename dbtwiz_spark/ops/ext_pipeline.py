"""Training-data pipeline operators (SURVEY §2.11 extension family §E).

The ops a 100 TB LLM data pipeline runs between raw crawl and tokenizer:
deterministic sampling/splitting, benchmark decontamination, sequence
packing, and domain-mixture computation. All are pure DataFrame expressions
(no UDFs, no collect) and every entry is oracle-checked — randomness is
replaced by an explicit multiplicative hash so Spark and DuckDB agree bit
for bit, and the same trick is what makes reruns reproducible at scale
(a sample/split must not change when the job is retried).

Reference analogs: the reference has no LLM ops (it is an orchestrator);
these extend the engine per the brief's training-pipeline mandate, reusing
the corpus conventions of ext_llm.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbtwiz_spark.ops.common import (
    _min_propagate,
    _mirror,
    davg,
    davg_sql,
    dsum_q4,
    dsum_q4_sql,
    views,
)
from dbtwiz_spark.ops.common import hkey as _hkey
from dbtwiz_spark.ops.common import hkey_sql as _hkey_sql
from dbtwiz_spark.ops.registry import register


@register(
    "ext-sample-stratified",
    oracle=f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY {_hkey_sql('doc_id')}, doc_id) AS rn
        FROM documents)
    WHERE rn <= 20
    """,
)
def ext_sample_stratified(spark, sf_dir):
    """Stratified sampling: a fixed-size (20 docs) uniform-without-replacement
    sample per language stratum.

    The multiplicative hash gives each doc a deterministic pseudo-random
    rank; row_number per stratum takes the sample. One shuffle on the
    stratum key; per-stratum top-K is what TakeOrdered does at scale, and
    the sample is stable across retries/engines (no rand())."""
    d = views(spark, sf_dir).table("documents")
    w = Window.partitionBy("lang").orderBy(_hkey(F.col("doc_id")), F.col("doc_id"))
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


@register(
    "ext-split-train-eval",
    oracle=f"""
    SELECT lang, split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT lang, n_chars,
               CASE WHEN {_hkey_sql('doc_id')} % 100 < 80 THEN 'train'
                    WHEN {_hkey_sql('doc_id')} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents)
    GROUP BY 1, 2
    """,
)
def ext_split_train_eval(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split by hashed doc_id.

    Hash-based assignment is the scale-safe split: no global shuffle or
    sort, any engine reproduces the same membership, and a re-crawled doc
    lands in the same split forever (no eval leakage across runs). Output is
    the per-(lang, split) histogram — map-side partial agg, one shuffle."""
    d = views(spark, sf_dir).table("documents")
    bucket = _hkey(F.col("doc_id")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


_DECONTAM_SQL = """
    WITH arrs AS (
        SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(a) - 4),
                      i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' '
                           || a[i+3] || ' ' || a[i+4])) AS shingle
        FROM arrs),
    bench AS (SELECT * FROM sh WHERE doc_id % 97 = 0),
    train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM train t JOIN bench b ON t.shingle = b.shingle)
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id % 97 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


@register("ext-decontaminate", oracle=_DECONTAM_SQL)
def ext_decontaminate(spark, sf_dir):
    """Benchmark decontamination: drop training docs sharing any 5-gram with
    the held-out benchmark set (doc_id % 97 == 0 stands in for the eval
    suite).

    Scale shape: the overlap test is a semi-join on the shingle key — the
    benchmark side is tiny (eval suites are thousands of docs), so at scale
    its shingle set broadcasts and contamination detection is map-side over
    the training corpus; never an all-pairs comparison."""
    from dbtwiz_spark.ops.ext_llm import shingles

    d = views(spark, sf_dir).table("documents")
    sh = shingles(d, 5)
    is_bench = F.col("doc_id") % 97 == 0
    bench_sh = sh.filter(is_bench).select("shingle").distinct()
    contaminated = (
        sh.filter(~is_bench)
        .join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(~is_bench)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang")
    )


@register(
    "ext-pack-sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS tok
        FROM documents),
    packed AS (
        SELECT lang, tok,
               CAST((SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - tok) // 512
                    AS BIGINT) AS bin
        FROM toks)
    SELECT lang, bin, COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens
    FROM packed GROUP BY 1, 2
    """,
)
def ext_pack_sequences(spark, sf_dir):
    """Sequence packing: assign docs to fixed 512-token training bins by
    running start-offset within each language stream (a doc starts in the
    bin where its cumulative offset lands).

    The cumulative sum is a per-stratum window (partitioned — parallel
    across languages/shards; at 100 TB the stream key would be
    (lang, shard)). Integer token counts make the result exact on both
    engines. Output: per-bin document and token counts."""
    d = views(spark, sf_dir).table("documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.sum("tok").over(w) - F.col("tok")  # exclusive running offset
    packed = toks.select(
        "lang", "tok", F.floor(start / 512).cast("long").alias("bin")
    )
    return packed.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("tok").alias("total_tokens")
    )


@register(
    "ext-mix-domains",
    oracle="""
    WITH per_src AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        FROM documents GROUP BY 1),
    tot AS (SELECT CAST(SUM(total_tokens) AS BIGINT) AS all_tokens,
                   COUNT(*) AS n_src FROM per_src)
    SELECT source, n_docs, total_tokens,
           CAST(all_tokens AS DOUBLE) / (n_src * total_tokens) AS mix_weight
    FROM per_src, tot
    """,
)
def ext_mix_domains(spark, sf_dir):
    """Domain-mixture weights: per-source token counts plus the sampling
    weight that re-balances the mixture to a uniform token share per source
    (weight = target_share / actual_share, target uniform).

    Two aggregations — per-source (one shuffle) and the 1-row global total
    (broadcast back). Integer token totals keep the ratio exact; the final
    division is one double op, identical in both engines."""
    d = views(spark, sf_dir).table("documents")
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
    )
    tot = per_src.agg(
        F.sum("total_tokens").alias("all_tokens"), F.count("*").alias("n_src")
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_tokens",
        (
            F.col("all_tokens").cast("double")
            / (F.col("n_src") * F.col("total_tokens"))
        ).alias("mix_weight"),
    )


@register(
    "ext-mix-temperature",
    oracle="""
    WITH per_src AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        FROM documents GROUP BY 1),
    scaled AS (
        SELECT source, total_tokens,
               CAST(SQRT(CAST(total_tokens AS DOUBLE)) AS DECIMAL(38, 12)) AS s
        FROM per_src),
    tot AS (SELECT SUM(CAST(total_tokens AS HUGEINT)) AS all_tokens,
                   SUM(s) AS all_s
            FROM scaled)
    SELECT source, total_tokens,
           CAST(total_tokens AS DOUBLE) / CAST(all_tokens AS DOUBLE) AS p_raw,
           CAST(CAST(CAST(s AS DOUBLE) / CAST(all_s AS DOUBLE)
                     AS DECIMAL(18, 9)) AS DOUBLE) AS p_temp
    FROM scaled, tot
    """,
)
def ext_mix_temperature(spark, sf_dir):
    """Temperature-scaled domain sampling (multinomial alpha-sampling,
    alpha = 0.5): p_temp(s) = tokens_s^alpha / sum_t tokens_t^alpha —
    the standard rebalancing that up-samples small domains without
    flattening the mixture entirely (p_raw is the natural token share).

    alpha is fixed at 0.5 so the power is ``sqrt``, which IEEE requires to
    be correctly rounded — bit-identical in Spark and DuckDB, unlike
    ``pow(x, 0.7)``'s 1-ulp libm drift. The sqrt values are quantized to
    DECIMAL(38,12) before the sum so accumulation is exact and
    order-independent (same trick as ops.common.dsum). Shapes: one
    per-source aggregation (shuffle with partial agg), one 1-row total
    broadcast back — no second scan of documents.

    p_temp is additionally quantized to 9 dp AFTER the division: once the
    exact decimal sum ``all_s`` grows past ~15 significant digits (first
    happens at sf0.1), its decimal→double conversion is no longer uniquely
    rounded across engines (Java BigDecimal converts correctly-rounded;
    DuckDB divides two separately-rounded doubles) and the raw ratios
    drift by ~2 ulp. Rounding both sides to 9 dp erases that drift while
    keeping 9 digits of real precision."""
    d = views(spark, sf_dir).table("documents")
    dec = "decimal(38,12)"
    per_src = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
    )
    scaled = per_src.select(
        "source",
        "total_tokens",
        F.sqrt(F.col("total_tokens").cast("double")).cast(dec).alias("s"),
    )
    tot = scaled.agg(
        F.sum("total_tokens").alias("all_tokens"), F.sum("s").alias("all_s")
    )
    return scaled.crossJoin(F.broadcast(tot)).select(
        "source",
        "total_tokens",
        (F.col("total_tokens").cast("double") / F.col("all_tokens").cast("double")).alias(
            "p_raw"
        ),
        (F.col("s").cast("double") / F.col("all_s").cast("double"))
        .cast("decimal(18,9)")
        .cast("double")
        .alias("p_temp"),
    )


@register(
    "ext-quality-repetition",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    counts AS (
        SELECT doc_id, w, COUNT(*) AS cnt FROM words GROUP BY 1, 2),
    per_doc AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
               COUNT(*) AS n_distinct, MAX(cnt) AS top_cnt
        FROM counts GROUP BY 1)
    SELECT doc_id, n_words, n_distinct,
           CAST(n_words - n_distinct AS DOUBLE) / n_words AS dup_word_frac,
           CAST(top_cnt AS DOUBLE) / n_words AS top_word_share
    FROM per_doc
    """,
)
def ext_quality_repetition(spark, sf_dir):
    """Repetition quality signals (the Gopher-rules family): per document,
    the duplicate-word fraction and the most-frequent-word share — high
    values flag boilerplate/spam for the quality filter that
    ext-quality-score's length/punctuation ratios alone miss.

    Shape: explode words -> count per (doc, word) -> reduce per doc. Both
    aggregations carry map-side partial aggregation, and the (doc_id, word)
    key is near-unique so the first shuffle is skew-free; at 100 TB this is
    the plain wordcount pattern sharded by document. Integer counts make
    every ratio a single exact-operand double division."""
    d = views(spark, sf_dir).table("documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    counts = words.groupBy("doc_id", "w").agg(F.count("*").alias("cnt"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_distinct",
        (
            (F.col("n_words") - F.col("n_distinct")).cast("double")
            / F.col("n_words")
        ).alias("dup_word_frac"),
        (F.col("top_cnt").cast("double") / F.col("n_words")).alias(
            "top_word_share"
        ),
    )


@register(
    "ext-quality-gopher",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')) AS mean_word_len,
               CAST(len(list_filter(string_split(text, ' '),
                        w -> regexp_full_match(w, '[A-Za-z]+'))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS frac_alpha_words,
               len(list_filter(string_split(text, ' '),
                   w -> list_contains(['the','a','of','and','to','in','is','on'], w)))
                 AS n_stopwords
        FROM documents)
    SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stopwords,
           (n_words BETWEEN 30 AND 100000)
             AND (mean_word_len BETWEEN 3 AND 10)
             AND frac_alpha_words >= 0.8
             AND n_stopwords >= 2 AS gopher_pass
    FROM t
    """,
)
def ext_quality_gopher(spark, sf_dir):
    """Gopher-style rule filter (Rae et al. 2021 §A1.1): per document the
    word count, mean word length, all-alphabetic word fraction, and
    stopword count, plus the conjunctive pass flag (30 <= words <= 100k,
    3 <= mean word length <= 10, >= 80% alphabetic words, >= 2 stopwords).
    Complements ext-quality-score (length/TTR) and ext-quality-repetition
    (dup-word signals) — together the three cover the classic rule family.

    Every signal is a map-side expression over the token array — no
    shuffle, no UDF; at 100 TB this is a pure scan-side filter that
    co-schedules with ingestion. Integer counts divide once into doubles,
    so both engines round identically."""
    d = views(spark, sf_dir).table("documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    mean_wl = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_words
    )
    stops = F.array(*[F.lit(w) for w in ["the", "a", "of", "and", "to", "in", "is", "on"]])
    frac_alpha = (
        F.size(F.filter(toks, lambda w: w.rlike("^[A-Za-z]+$"))).cast("double")
        / n_words
    )
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stops, w)))
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        n_stop.cast("long").alias("n_stopwords"),
        (
            n_words.between(30, 100000)
            & mean_wl.between(3, 10)
            & (frac_alpha >= 0.8)
            & (n_stop >= 2)
        ).alias("gopher_pass"),
    )


_EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
_PHONE_RE = "555-[0-9]{4}"


@register(
    "ext-pii-scrub",
    oracle=f"""
    WITH c AS (
        SELECT doc_id,
               'user' || CAST(doc_id AS VARCHAR) || '@' || source
                 || '.example.com call 555-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS contact
        FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(contact, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(contact, '{_PHONE_RE}')) AS n_phones,
           regexp_replace(regexp_replace(contact, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM c
    """,
)
def ext_pii_scrub(spark, sf_dir):
    """PII scrubbing: count and redact email / phone patterns via regex
    (the pre-training privacy pass). The corpus text carries no PII, so a
    synthetic contact string is derived deterministically from (doc_id,
    source) — the scrub path itself (count, replace-all, both patterns) is
    the real thing.

    Pure map-side regexp expressions — whole-stage-codegen'd JVM regex, no
    UDF; at 100 TB this fuses into the ingest scan like any other
    projection. The patterns stick to plain character classes so Java
    regex (Spark) and RE2 (DuckDB) agree; DuckDB needs the explicit 'g'
    flag to match Spark's replace-all default."""
    d = views(spark, sf_dir).table("documents")
    contact = F.concat(
        F.lit("user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example.com call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(contact, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(contact, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(contact, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


@register(
    "ext-token-histogram",
    oracle="""
    WITH t AS (
        SELECT lang, len(string_split(text, ' ')) AS tok FROM documents)
    SELECT lang, CAST(floor(log2(tok)) AS BIGINT) AS bucket,
           COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS total_tokens,
           MIN(tok) AS min_tokens, MAX(tok) AS max_tokens
    FROM t GROUP BY 1, 2
    """,
)
def ext_token_histogram(spark, sf_dir):
    """Token-length histogram: per (lang, log2 bucket) document and token
    counts — the length-distribution profile that sizes packing bins and
    flags truncation outliers before training.

    floor(log2(int)) is engine-agreeable: exact at powers of two, and
    anywhere else the true value sits far further than 1 ulp from an
    integer. One shuffle on (lang, bucket) with map-side partial
    aggregation; cardinality is ~langs x 20 buckets, so the reduce side is
    trivially small at any scale."""
    d = views(spark, sf_dir).table("documents")
    tok = F.size(F.split("text", " ")).cast("long")
    return (
        d.select("lang", tok.alias("tok"))
        .groupBy("lang", F.floor(F.log2("tok")).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.min("tok").alias("min_tokens"),
            F.max("tok").alias("max_tokens"),
        )
    )


@register(
    "ext-embed-stats",
    oracle=f"""
    WITH ex AS (
        SELECT dim - 1 AS dim, CAST(embedding[dim] AS DOUBLE) AS v
        FROM embeddings CROSS JOIN generate_series(1, 64) AS t(dim)),
    agg AS (
        SELECT dim, COUNT(v) AS n,
               {davg_sql('v')} AS mean_v,
               {davg_sql('v * v')} AS mean_sq
        FROM ex GROUP BY 1)
    SELECT dim, n, mean_v, mean_sq - mean_v * mean_v AS var_v
    FROM agg
    """,
)
def ext_embed_stats(spark, sf_dir):
    """Per-dimension embedding statistics (mean, variance): the drift /
    collapse monitor a training pipeline runs over its embedding store —
    a dimension whose variance goes to zero is a dead feature; a shifted
    mean flags an encoder version mix.

    posexplode expands rows x 64, but map-side partial aggregation
    collapses each task to <= 64 partial rows before the shuffle, so the
    exchange is O(partitions x dims) regardless of table size — the same
    wordcount shape that survives 100 TB. Float values cast to double
    (exact) then accumulate through the DECIMAL path (ops.common.davg) so
    both engines sum in any order and agree bit-for-bit; the variance is
    one deterministic double expression over the two exact means."""
    e = views(spark, sf_dir).table("embeddings")
    ex = e.select(F.posexplode("embedding").alias("dim", "vf")).select(
        "dim", F.col("vf").cast("double").alias("v")
    )
    agg = ex.groupBy("dim").agg(
        F.count("v").alias("n"),
        davg("v", "mean_v"),
        davg(F.col("v") * F.col("v"), "mean_sq"),
    )
    return agg.select(
        "dim",
        "n",
        "mean_v",
        (F.col("mean_sq") - F.col("mean_v") * F.col("mean_v")).alias("var_v"),
    )


@register(
    "ext-filter-length-outliers",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        FROM documents),
    r AS (
        SELECT doc_id, lang, n_tokens,
               PERCENT_RANK() OVER (PARTITION BY lang
                                    ORDER BY n_tokens, doc_id) AS pr
        FROM t)
    SELECT doc_id, lang, n_tokens, pr
    FROM r WHERE pr >= 0.05 AND pr <= 0.95
    """,
)
def ext_filter_length_outliers(spark, sf_dir):
    """Length-outlier trimming: drop each language's shortest and longest
    5% of documents by exact percentile rank — the distribution-aware
    variant of a fixed min/max length cutoff (a fixed cutoff tuned on
    English over-trims CJK, where tokens pack more content).

    percent_rank over (lang) partitions is embarrassingly parallel across
    languages; within a language Spark range-partitions the sort, so no
    single-partition window at scale (same shape win-percent uses, pinned
    by tests/test_plans.py). The (n_tokens, doc_id) order key is unique,
    making the rank — and therefore the kept set — fully deterministic."""
    d = views(spark, sf_dir).table("documents")
    t = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    r = t.select("doc_id", "lang", "n_tokens", F.percent_rank().over(w).alias("pr"))
    return r.filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))


@register(
    "ext-filter-composite",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                 / length(text) AS alpha_ratio
        FROM documents),
    f AS (
        SELECT doc_id,
               CASE WHEN n_tok < 25 THEN 'short;' ELSE '' END
               || CASE WHEN CAST(n_tok - n_distinct AS DOUBLE) / n_tok > 0.35
                       THEN 'repetitive;' ELSE '' END
               || CASE WHEN alpha_ratio < 0.6 THEN 'non_alpha;' ELSE '' END
                 AS reasons
        FROM t)
    SELECT doc_id, reasons = '' AS keep, reasons FROM f
    """,
)
def ext_filter_composite(spark, sf_dir):
    """Composite keep/drop decision: the final verdict a pipeline stamps on
    each document, combining the individual quality signals (min length,
    duplicate-word fraction, alphabetic ratio) into one boolean plus a
    semicolon-joined reason trail for filter-rate debugging (which rule
    fires how often is the first question when a crawl's yield drops).

    All three signals are map-side array/regex expressions — the whole
    filter is a single scan-fused projection, no shuffle, no UDF. Reasons
    concatenate in a fixed rule order so the string is deterministic."""
    d = views(spark, sf_dir).table("documents")
    toks = F.split("text", " ")
    t = d.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        (
            F.length(F.regexp_replace("text", "[^a-zA-Z ]", "")).cast("double")
            / F.length("text")
        ).alias("alpha_ratio"),
    )
    dup_frac = (F.col("n_tok") - F.col("n_distinct")).cast("double") / F.col("n_tok")
    reasons = F.concat(
        F.when(F.col("n_tok") < 25, "short;").otherwise(""),
        F.when(dup_frac > 0.35, "repetitive;").otherwise(""),
        F.when(F.col("alpha_ratio") < 0.6, "non_alpha;").otherwise(""),
    )
    return t.select(
        "doc_id",
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    ).select("doc_id", "keep", "reasons")


@register(
    "ext-text-normalize",
    oracle="""
    WITH noisy AS (
        SELECT doc_id,
               '  ' || upper(substr(text, 1, 8)) || substr(text, 9) || '   '
                 AS raw,
               text
        FROM documents)
    SELECT doc_id,
           length(raw) AS n_chars_raw,
           length(trim(regexp_replace(lower(raw), ' +', ' ', 'g')))
             AS n_chars_norm,
           trim(regexp_replace(lower(raw), ' +', ' ', 'g')) = text
             AS roundtrip_ok
    FROM noisy
    """,
)
def ext_text_normalize(spark, sf_dir):
    """Text normalization pass (the first stage of every training pipeline):
    lowercase, collapse runs of whitespace, trim edges. The corpus text is
    already clean, so deterministic noise (leading/trailing spaces + an
    uppercased prefix) is injected first — same honesty device as
    ext-pii-scrub's synthetic contact string — and ``roundtrip_ok`` proves
    the normalizer restores the original byte-for-byte.

    Pure map-side string expressions (lower/regexp_replace/trim are JVM
    intrinsics inside whole-stage codegen) — the pass fuses into the ingest
    scan at 100 TB; no shuffle, no UDF. ASCII-only corpus keeps lower()
    locale-free across engines; DuckDB needs the explicit 'g' flag to match
    Spark's replace-all default."""
    d = views(spark, sf_dir).table("documents")
    raw = F.concat(
        F.lit("  "),
        F.upper(F.substring("text", 1, 8)),
        F.col("text").substr(F.lit(9), F.length("text")),
        F.lit("   "),
    )
    norm = F.trim(F.regexp_replace(F.lower(raw), " +", " "))
    return d.select(
        "doc_id",
        F.length(raw).cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        (norm == F.col("text")).alias("roundtrip_ok"),
    )


@register(
    "ext-host-token-budget",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source || '.example.com' AS host,
               len(string_split(text, ' ')) AS tok
        FROM documents),
    r AS (
        SELECT host, tok,
               SUM(tok) OVER (PARTITION BY host
                              ORDER BY {_hkey_sql('doc_id')}, doc_id
                              ROWS UNBOUNDED PRECEDING) - tok AS start_tok
        FROM t)
    SELECT host, COUNT(*) AS n_docs_total,
           CAST(SUM(CASE WHEN start_tok < 20000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_kept,
           CAST(SUM(CASE WHEN start_tok < 20000 THEN tok ELSE 0 END) AS BIGINT)
             AS tokens_kept
    FROM r GROUP BY 1
    """,
)
def ext_host_token_budget(spark, sf_dir):
    """Per-host token-budget cap (the crawl-mixture guard): each host
    contributes documents in deterministic pseudo-random order until its
    cumulative token count reaches the budget (20k tokens), then the rest
    are dropped — bounding any single domain's share of the training mix
    by tokens, not doc count (one giant page can't evade a doc-count cap).

    The running offset is a per-host window over the multiplicative-hash
    order (same exact-BIGINT trick as ext-sample-stratified, so Spark and
    DuckDB agree bit-for-bit and retries keep the same docs). Windows
    partition by host — embarrassingly parallel across hosts, and at
    100 TB the per-host stream is range-partitioned by the sort key, never
    single-partition. Output: per-host total/kept doc and token counts."""
    d = views(spark, sf_dir).table("documents")
    t = d.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.size(F.split("text", " ")).cast("long").alias("tok"),
    )
    w = (
        Window.partitionBy("host")
        .orderBy(_hkey(F.col("doc_id")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = t.select(
        "host", "tok", (F.sum("tok").over(w) - F.col("tok")).alias("start_tok")
    )
    kept = F.col("start_tok") < 20000
    return r.groupBy("host").agg(
        F.count("*").alias("n_docs_total"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_docs_kept"),
        F.sum(F.when(kept, F.col("tok")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
    )


@register(
    "ext-dup-span",
    oracle="""
    WITH arrs AS (
        SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(a) - 7),
                      i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' '
                           || a[i+3] || ' ' || a[i+4] || ' ' || a[i+5] || ' '
                           || a[i+6] || ' ' || a[i+7])) AS shingle
        FROM arrs),
    df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
    SELECT doc_id, COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_frac
    FROM sh JOIN df USING (shingle)
    GROUP BY doc_id
    """,
)
def ext_dup_span(spark, sf_dir):
    """Duplicated-span profile (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): per document, the fraction of its
    distinct 8-grams that also occur in at least one other document — the
    corpus-level duplication rate that motivates (and then validates)
    dedup, and the signal behind exact-substring dedup's span selection.

    Shape: distinct (doc, 8-gram) stream -> global document frequency per
    gram (one shuffle, map-side combine) -> join the df back on the gram
    key (second shuffle) -> per-doc reduce. No self-join and no pair
    explosion — cost is linear in corpus grams, unlike the quadratic
    pair-join ext-ngram-jaccard bounds with its similarity threshold; this
    is the profile you can afford on the FULL corpus at 100 TB. Docs
    shorter than 8 tokens carry no grams and drop out on both engines.
    Integer counts divide once into the double fraction."""
    from dbtwiz_spark.ops.ext_llm import shingles

    d = views(spark, sf_dir).table("documents")
    sh = shingles(d, 8)
    df_tab = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    shared = F.when(F.col("df") >= 2, 1).otherwise(0)
    return (
        sh.join(df_tab, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(shared).cast("long").alias("n_shared"),
            (F.sum(shared).cast("double") / F.count("*")).alias("dup_frac"),
        )
    )


_CLUSTER_PAIRS_SQL = """
        SELECT doc_a, doc_b FROM (
            WITH arrs AS (
                SELECT doc_id, string_split(text, ' ') AS a FROM documents),
            sh_all AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(generate_series(1, len(a) - 2),
                              i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
                FROM arrs),
            hot AS (
                SELECT shingle FROM sh_all GROUP BY shingle
                HAVING COUNT(*) > 0.25 * (SELECT COUNT(*) FROM documents)),
            sh AS (
                SELECT * FROM sh_all WHERE shingle NOT IN (SELECT shingle FROM hot)),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
            pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b) j
        WHERE jaccard >= 0.5
"""


def _cluster_edges(spark, sf_dir):
    """The >=0.5 n-gram-Jaccard pair graph as mirrored ``(src, dst)``
    doc-id edges."""
    from dbtwiz_spark.ops.ext_llm import ext_ngram_jaccard

    return _mirror(
        ext_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )


@register(
    "ext-dedup-cluster",
    oracle=f"""
    WITH RECURSIVE
    prs AS ({_CLUSTER_PAIRS_SQL}),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
              UNION SELECT doc_b, doc_a FROM prs),
    reach(doc_id, r) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.a, rc.r FROM edges e JOIN reach rc ON rc.doc_id = e.b)
    SELECT doc_id, MIN(r) AS cluster_id,
           doc_id = MIN(r) AS keep
    FROM reach GROUP BY doc_id
    """,
)
def ext_dedup_cluster(spark, sf_dir):
    """Near-duplicate CLUSTERING: connected components over the >=0.5
    n-gram-Jaccard pair graph, canonical representative = the minimum
    doc_id reachable from each node. Pairwise dedup alone under-deletes
    (A~B, B~C but A!~C leaves two of the three); the component view keeps
    exactly one doc per transitive cluster — the ``keep`` flag.

    Algorithm: min-label propagation to a fixpoint — per round, every
    node takes the min of its own label and its neighbours' labels (one
    equi-join + one aggregation per round, both key-partitioned, no
    driver data): ``common._min_propagate``, the graph-connected-components
    loop, which stops at the fixpoint without a convergence job. Rounds
    needed = graph diameter, logarithmic for the short near-dup chains
    dedup produces; capped at 20. The oracle computes the same fixpoint
    as a recursive min-reachability CTE — both sides converge to the
    unique transitive answer, so the hash match is exact.

    At 100 TB the pair graph (post-LSH) is orders of magnitude smaller
    than the corpus; each round shuffles only (node, label) pairs, and the
    converged labels are a catalog artifact, so repeat sweeps pay only
    the keep projection.
    """

    def _build_converged_labels():
        edges = _cluster_edges(spark, sf_dir)
        return _min_propagate(
            edges,
            edges.selectExpr("src AS doc_id", "src AS lbl").distinct(),
            F.col("lbl"),
            20,
        )

    labels = views(spark, sf_dir).artifact(
        "dedup_cluster_labels", _build_converged_labels
    )
    return labels.select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        (F.col("doc_id") == F.col("lbl")).alias("keep"),
    )


@register(
    "ext-vocab-build",
    oracle="""
    WITH counts AS (
        SELECT token, COUNT(*) AS n_occurrences
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY 1)
    SELECT token, n_occurrences,
           ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) - 1
             AS token_id
    FROM counts
    """,
)
def ext_vocab_build(spark, sf_dir):
    """Vocabulary construction (the tokenizer-training step): count every
    token across the corpus and assign contiguous ids by descending
    frequency (ties broken lexically so the id assignment is total and
    engine-identical) — id 0 is the most frequent token, the layout BPE /
    WordPiece vocabularies use.

    The token count is the wordcount shape (map-side combine, one shuffle).
    The ranking window runs over the AGGREGATED vocabulary table, whose
    size is bounded by the language's vocabulary — it does not grow with
    corpus rows — so the single sort it implies is over a small bounded
    input at any corpus scale (100 TB of text still yields a ~1M-row
    vocab). That boundedness is why this op may use a global window where
    row-level ops (win-percent, ext-filter-length-outliers) must not."""
    d = views(spark, sf_dir).table("documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), "token")
    return counts.select(
        "token",
        "n_occurrences",
        (F.row_number().over(w) - 1).cast("long").alias("token_id"),
    )


@register(
    "ext-sample-importance",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               len(list_distinct(string_split(text, ' '))) * 1.0
                 / len(string_split(text, ' ')) AS ttr
        FROM documents)
    SELECT doc_id, lang, ttr
    FROM t
    WHERE ({_hkey_sql('doc_id')}) / 4294967296.0 < ttr
    """,
)
def ext_sample_importance(spark, sf_dir):
    """Deterministic importance (rejection) sampling: keep each document
    with probability equal to its quality weight — here the type-token
    ratio, so repetitive documents are down-sampled in proportion to how
    repetitive they are (the quality-weighted sampling step between
    filtering and mixing in a training pipeline).

    The accept test compares the document's multiplicative-hash fraction
    (uniform on [0,1), exact BIGINT arithmetic in both engines) against
    the weight — rejection sampling with no ``rand()``, so a retry keeps
    the same sample, and the acceptance decision is a map-side expression
    (no shuffle anywhere). The weight itself is integer-ratio arithmetic,
    double-exact in both engines."""
    d = views(spark, sf_dir).table("documents")
    toks = F.split("text", " ")
    ttr = F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)
    t = d.select("doc_id", "lang", ttr.alias("ttr"))
    return t.filter(_hkey(F.col("doc_id")) / F.lit(4294967296.0) < F.col("ttr"))


@register(
    "ext-dedup-url",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               'HTTPS://' || upper(source) || '.Example.com/docs/'
                 || CAST(doc_id % 200 AS VARCHAR)
                 || '?utm_source=feed&id=' || CAST(doc_id % 200 AS VARCHAR)
                 || '&utm_campaign=x' AS url
        FROM documents),
    c AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(lower(url), '[?&]utm_[a-z]+=[^&]*', '', 'g'),
                 '^([^?&]*)&', '\\1?') AS canonical
        FROM u)
    SELECT canonical, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_dups
    FROM c GROUP BY 1
    """,
)
def ext_dedup_url(spark, sf_dir):
    """URL-canonical dedup (the crawl-level dedup that runs BEFORE any
    content hashing — the same page fetched via different tracking links
    must collapse to one document): lowercase scheme/host, strip
    utm_* tracking parameters, then keep the earliest doc per canonical
    URL. URLs are synthesized deterministically with mixed case and utm
    noise (doc_id % 200 forces real collisions) — the canonicalization
    and keep-earliest machinery is the real thing.

    Canonicalization is scan-fused regexp work (plain character classes so
    Java regex and RE2 agree); the dedup is one hash-groupBy on the
    canonical key with map-side partial MIN/COUNT — exactly the
    ext-dedup-exact shape, linear at 100 TB."""
    d = views(spark, sf_dir).table("documents")
    url = F.concat(
        F.lit("HTTPS://"),
        F.upper("source"),
        F.lit(".Example.com/docs/"),
        (F.col("doc_id") % 200).cast("string"),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 200).cast("string"),
        F.lit("&utm_campaign=x"),
    )
    # stripping '?utm_x=...' consumes the '?' delimiter, leaving the first
    # surviving param attached with '&'; promote that first '&' back to '?'
    # (anchored pattern — [^?&]* cannot cross an existing '?', so a URL
    # whose delimiter survived is left untouched). Replacement syntax
    # differs per engine: Java wants $1, RE2 wants \1.
    canonical = F.regexp_replace(
        F.regexp_replace(F.lower(url), "[?&]utm_[a-z]+=[^&]*", ""),
        "^([^?&]*)&",
        "$1?",
    )
    return (
        d.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


@register(
    "ext-curriculum-order",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               len(list_distinct(string_split(text, ' '))) * 1.0
                 / len(string_split(text, ' ')) AS ttr
        FROM documents),
    b AS (
        SELECT doc_id, lang,
               CASE WHEN ttr >= 0.75 THEN 0
                    WHEN ttr >= 0.6 THEN 1
                    WHEN ttr >= 0.45 THEN 2
                    ELSE 3 END AS bucket
        FROM t)
    SELECT doc_id, lang, bucket,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY bucket, {_hkey_sql('doc_id')}, doc_id)
             - 1 AS position
    FROM b
    """,
)
def ext_curriculum_order(spark, sf_dir):
    """Curriculum ordering: the deterministic training order for each
    language stream — cleanest documents first (quality bucket by
    type-token ratio), pseudo-random within a bucket (multiplicative hash,
    so the order is reproducible across retries and engines and no two
    epochs of a resumed run disagree). This is the "deterministic global
    shuffle" a training job needs: rand()-shuffled order changes on every
    retry, which breaks mid-epoch resume.

    Fixed thresholds make the bucket a map-side expression (quantile-based
    buckets would add a digest pass — see agg-quantile-digest for that
    machinery). The position is a per-stream window: parallel across
    languages, range-partitioned within one — at 100 TB the stream key
    becomes (lang, shard) exactly as in ext-pack-sequences, keeping every
    window partition bounded."""
    d = views(spark, sf_dir).table("documents")
    toks = F.split("text", " ")
    ttr = F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)
    bucket = (
        F.when(ttr >= 0.75, 0)
        .when(ttr >= 0.6, 1)
        .when(ttr >= 0.45, 2)
        .otherwise(3)
    )
    b = d.select("doc_id", "lang", bucket.alias("bucket"))
    w = Window.partitionBy("lang").orderBy(
        "bucket", _hkey(F.col("doc_id")), F.col("doc_id")
    )
    return b.select(
        "doc_id",
        "lang",
        "bucket",
        (F.row_number().over(w) - 1).cast("long").alias("position"),
    )


@register(
    "ext-dataset-card",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           {davg_sql("len(list_distinct(string_split(text, ' '))) * 1.0"
                     " / len(string_split(text, ' '))")} AS mean_ttr,
           CAST(SUM(CASE WHEN len(string_split(text, ' ')) < 25
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_short
    FROM documents
    """,
)
def ext_dataset_card(spark, sf_dir):
    """Dataset-card statistics: the one-pass corpus summary a training-data
    release publishes (document/token/language/source counts, length
    range, mean type-token ratio, short-document count). Everything a
    consumer needs to sanity-check a drop before training lands in ONE
    aggregation over one scan — per-row signals are map-side expressions,
    the distinct counts expand in the same hash-aggregate, and the mean
    goes through the exact DECIMAL accumulator so the card is
    byte-reproducible across engines and reruns (a dataset card that
    changes between identical builds is worse than none)."""
    d = views(spark, sf_dir).table("documents")
    toks = F.split("text", " ")
    ttr = F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)
    return d.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks).cast("long")).alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        davg(ttr, "mean_ttr"),
        F.sum(F.when(F.size(toks) < 25, 1).otherwise(0))
        .cast("long")
        .alias("n_short"),
    )


@register(
    "ext-chunk-documents",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    u AS (
        SELECT doc_id, toks, g
        FROM t, UNNEST(generate_series(0, len(toks) - 1, 32)) AS s(g))
    SELECT doc_id, CAST(g // 32 AS BIGINT) AS chunk_id,
           CAST(len(toks[g + 1 : g + 40]) AS BIGINT) AS chunk_tokens,
           array_to_string(toks[g + 1 : g + 40], ' ') AS chunk_text
    FROM u
    """,
)
def ext_chunk_documents(spark, sf_dir):
    """Fixed-window document chunking with overlap — the step that turns
    long documents into trainable sequences (40-token windows, stride 32,
    so consecutive chunks share an 8-token overlap and no token is lost
    at a boundary; the final partial chunk is kept).

    Pure map-side expansion: per row, a ``sequence`` of chunk starts is
    exploded and each chunk sliced out of the token array — no shuffle
    anywhere, output size is corpus tokens × (40/32), and the operator
    composes with ext-pack-sequences downstream. Slicing is array
    arithmetic (both engines clamp a slice past the end), never substring
    math that could split a token."""
    d = views(spark, sf_dir).table("documents")
    toks = F.split("text", " ")
    starts = F.sequence(F.lit(0), F.size(toks) - 1, F.lit(32))
    chunk = F.slice(F.col("toks"), F.col("g") + 1, 40)
    return (
        d.select("doc_id", toks.alias("toks"), F.explode(starts).alias("g"))
        .select(
            "doc_id",
            F.floor(F.col("g") / 32).cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


# BM25 constants (Robertson et al.; the values virtually every search
# engine defaults to)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("data", "model", "system")


def _bm25_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(toks, w -> w = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1)"
        f" * tf{i} * {_BM25_K1 + 1} / (tf{i} + {_BM25_K1} *"
        f" (1 - {_BM25_B} + {_BM25_B} * dl / avgdl)) ELSE 0 END)"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    d AS (
        SELECT doc_id, len(toks) AS dl, {tf_cols} FROM t),
    g AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, {df_cols}
        FROM d)
    SELECT doc_id, round({score}, 6) AS score
    FROM d, g
    ORDER BY score DESC, doc_id
    LIMIT 20
    """


@register("ext-bm25-search", oracle=_bm25_sql())
def ext_bm25_search(spark, sf_dir):
    """BM25 lexical retrieval (k1=1.2, b=0.75): top-20 documents for a
    fixed query term set — the classic search scorer, and the lexical
    counterpart to ext-sim-cosine-topk.

    Scale shape: per-term frequencies come from array lambdas INSIDE the
    row (``filter(toks, w -> w = t)``), so there is NO token explode and
    no token-level shuffle — the usual tf/df formulation shuffles the
    entire exploded token stream, this one shuffles nothing but a 1-row
    global aggregate (N, avgdl, per-term df) that broadcasts back to the
    map side. Top-k is TakeOrdered (never a global sort). Scores are
    rounded to 6 dp and ORDERED BY THE ROUNDED VALUE with a doc_id
    tie-break, absorbing the last-ulp ln() divergence between engines
    (same device as agg-corr-covar)."""
    d = views(spark, sf_dir).table("documents")
    toks = F.split("text", " ")
    def _tf(term: str):
        # NB: the lambda must be unary — pyspark gives a 2-arg callable
        # (element, index) semantics, which would bind the term to the
        # array index instead of the closed-over string
        return F.size(F.filter(toks, lambda w: w == F.lit(term)))

    tf = [_tf(t) for t in _BM25_TERMS]
    per_doc = d.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[c.alias(f"tf{i}") for i, c in enumerate(tf)],
    )
    glob = per_doc.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    n, avgdl = F.col("n"), F.col("avgdl")
    score = None
    for i in range(len(_BM25_TERMS)):
        tfi, dfi = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log((n - dfi + 0.5) / (dfi + 0.5) + 1)
        part = F.when(
            tfi > 0,
            idf
            * tfi
            * (_BM25_K1 + 1)
            / (tfi + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl)),
        ).otherwise(F.lit(0.0))
        score = part if score is None else score + part
    return (
        per_doc.join(F.broadcast(glob))
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@register(
    "ext-quality-unigram-logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    vocab AS (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM toks)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           {dsum_q4_sql('ln(cnt / total)')} / COUNT(*)
               AS logprob_per_token
    FROM toks JOIN vocab USING (tok), n
    GROUP BY doc_id
    """,
)
def ext_quality_unigram_logprob(spark, sf_dir):
    """Unigram language-model quality proxy: each document's mean
    per-token log-probability under the corpus's own unigram
    distribution — the classic LM-based quality filter shape (CCNet /
    Gopher use a KenLM perplexity; the unigram form is its
    engine-native, oracle-checkable stand-in). Documents full of rare
    junk tokens score very negative; formulaic boilerplate scores high —
    both tails are what a mixture curator clips.

    Scale shape: the vocab (bounded: distinct tokens, not corpus rows)
    is built with one partial-aggregated groupBy and joins back to the
    token stream — Catalyst broadcasts it when small, shuffles it
    bucket-wise when not; the per-doc reduce is keyed on doc_id.
    Determinism: ln() values are quantized to DECIMAL(28,4) BEFORE
    summing so the per-doc sum is order-independent and identical across
    engines. The grid is 1e-4, not 1e-6: JVM and DuckDB ln() disagree by
    ~1e-13 absolute (measured via the bigram sibling), so a 1e-6 grid
    flips a boundary-straddling term every ~30 sweeps at scale; at 1e-4
    the flip probability is ~1e-9 per term. The mean ships UNROUNDED
    through the scaled-BIGINT exit — round(double, 6) itself diverges
    (Spark rounds the shortest repr, DuckDB the true binary; a mean
    whose two representations straddle x.5e-6 flips, measured at
    sf0.1), while two correctly-rounded divisions on identical exact
    operands are bit-identical."""
    d = views(spark, sf_dir).table("documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = toks.agg(F.count("*").cast("double").alias("total"))
    lp = F.log(F.col("cnt") / F.col("total"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (dsum_q4(lp) / F.count("*")).alias("logprob_per_token"),
        )
    )


@register(
    "ext-split-drift",
    oracle=f"""
    WITH c AS (
        SELECT source,
               COUNT(*) FILTER (WHERE b < 80)  AS n_train,
               COUNT(*) FILTER (WHERE b >= 90) AS n_eval
        FROM (SELECT source, {_hkey_sql('doc_id')} % 100 AS b FROM documents)
        GROUP BY 1),
    t AS (SELECT CAST(SUM(n_train) AS BIGINT) AS tt,
                 CAST(SUM(n_eval) AS BIGINT)  AS te FROM c)
    SELECT source, n_train, n_eval,
           round(CAST(n_train AS DOUBLE) / tt, 8) AS p_train,
           round(CAST(n_eval AS DOUBLE) / te, 8) AS p_eval,
           round(
             0.5 * (CASE WHEN n_train > 0 THEN (CAST(n_train AS DOUBLE) / tt)
                         * ln((CAST(n_train AS DOUBLE) / tt)
                              / ((CAST(n_train AS DOUBLE) / tt
                                  + CAST(n_eval AS DOUBLE) / te) / 2))
                         ELSE 0 END)
           + 0.5 * (CASE WHEN n_eval > 0 THEN (CAST(n_eval AS DOUBLE) / te)
                         * ln((CAST(n_eval AS DOUBLE) / te)
                              / ((CAST(n_train AS DOUBLE) / tt
                                  + CAST(n_eval AS DOUBLE) / te) / 2))
                         ELSE 0 END), 6) AS js_term
    FROM c, t
    """,
)
def ext_split_drift(spark, sf_dir):
    """Train/eval distribution drift: per-domain Jensen-Shannon divergence
    terms between the deterministic train and eval splits (the splits of
    ext-split-train-eval). The gate a training pipeline runs before
    trusting an eval set: a domain whose js_term spikes is over- or
    under-represented in eval relative to train. Summing js_term over
    domains gives JS(train ‖ eval); per-domain terms localize the drift.

    Same scale shape as ext-mix-domains: one per-domain aggregation with
    conditional counts (map-side partial agg), a 1-row total broadcast
    back, then pure per-row double math. The probabilities are ratios of
    exact integers (identical IEEE division in any engine); only ln()
    differs in the last ulp, absorbed by round(…, 6) (precedent:
    agg-corr-covar, ext-quality-unigram-logprob).
    """
    d = views(spark, sf_dir).table("documents")
    b = _hkey(F.col("doc_id")) % 100
    c = d.select("source", b.alias("b")).groupBy("source").agg(
        F.count(F.when(F.col("b") < 80, 1)).alias("n_train"),
        F.count(F.when(F.col("b") >= 90, 1)).alias("n_eval"),
    )
    tot = c.agg(F.sum("n_train").alias("tt"), F.sum("n_eval").alias("te"))
    j = c.crossJoin(F.broadcast(tot))
    p_t = F.col("n_train").cast("double") / F.col("tt")
    p_e = F.col("n_eval").cast("double") / F.col("te")
    m = (p_t + p_e) / 2
    term = 0.5 * F.when(F.col("n_train") > 0, p_t * F.log(p_t / m)).otherwise(
        0.0
    ) + 0.5 * F.when(F.col("n_eval") > 0, p_e * F.log(p_e / m)).otherwise(0.0)
    return j.select(
        "source",
        "n_train",
        "n_eval",
        F.round(p_t, 8).alias("p_train"),
        F.round(p_e, 8).alias("p_eval"),
        F.round(term, 6).alias("js_term"),
    )


def _rrf_sql() -> str:
    from dbtwiz_spark.ops.ext_llm import _pair_cosine_sql

    return f"""
    WITH lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lrank
        FROM ({_bm25_sql()})),
    vec AS (
        SELECT doc_id, vrank FROM (
            SELECT c_vec_id AS doc_id,
                   ROW_NUMBER() OVER (ORDER BY cosine DESC, c_vec_id) AS vrank
            FROM ({_pair_cosine_sql("e.vec_id = 0")}
                  SELECT q_vec_id, c_vec_id, cosine FROM dots))
        WHERE vrank <= 20)
    SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
           CAST(COALESCE(l.lrank, 0) AS BIGINT) AS lex_rank,
           CAST(COALESCE(v.vrank, 0) AS BIGINT) AS vec_rank,
           round(COALESCE(1.0 / (60 + l.lrank), 0.0)
                 + COALESCE(1.0 / (60 + v.vrank), 0.0), 6) AS rrf
    FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    """


@register("ext-rank-fusion", oracle=_rrf_sql())
def ext_rank_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (RRF, k=60) of the two retrieval modalities
    the corpus already grades separately: BM25 lexical top-20
    (ext-bm25-search) and embedding-cosine top-20 for query vector 0
    (ext-sim-cosine-topk's exact path). Hybrid search is the standard
    retrieval stack for RAG-style training-data curation — each modality
    misses what the other finds, and RRF is the rank-only fusion that
    needs no score calibration between them.

    Scale shape: both rankings end in a top-k (TakeOrdered / bounded
    window), so the fused join is a 20×20-row full-outer join — the
    expensive parts are the two upstream retrievals, each already graded
    scale-safe. Rank, not score, crosses the fusion boundary, so the
    last-ulp ln() divergence absorbed by BM25's rounded ordering cannot
    leak into the fused output. A missing rank contributes 0 (and is
    REPORTED as rank 0, keeping both engines' null handling out of the
    hash)."""
    from dbtwiz_spark.ops.ext_llm import _cosine_pairs

    lex = ext_bm25_search(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .alias("lrank"),
    )
    emb = views(spark, sf_dir).table("embeddings")
    # top-k FIRST via TakeOrdered (distributed), THEN rank the 20 survivors
    # — ranking with a global window before the cut would single-partition
    # the full corpus-sized cosine set
    vec_top = (
        _cosine_pairs(spark, emb, F.col("vec_id") == 0)
        .orderBy(F.col("cosine").desc(), F.col("c_vec_id"))
        .limit(20)
    )
    vec = vec_top.select(
        F.col("c_vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col("c_vec_id")))
        .alias("vrank"),
    )
    # 20-row sides: the global windows above are bounded by the upstream
    # top-k, never corpus-sized
    fused = lex.join(vec, on="doc_id", how="full_outer")
    return fused.select(
        "doc_id",
        F.coalesce(F.col("lrank"), F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce(F.col("vrank"), F.lit(0)).cast("long").alias("vec_rank"),
        F.round(
            F.coalesce(1.0 / (F.col("lrank") + 60), F.lit(0.0))
            + F.coalesce(1.0 / (F.col("vrank") + 60), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )


@register(
    "ext-mask-tokens",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    m AS (
        SELECT doc_id, len(toks) AS n_tokens,
               list_transform(toks, (x, i) -> CASE
                   WHEN ({_hkey_sql('doc_id * 1000003 + i')}) % 100 < 15
                   THEN '<mask>' ELSE x END) AS masked
        FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(list_filter(masked, x -> x = '<mask>')) AS BIGINT)
               AS n_masked,
           array_to_string(masked, ' ') AS masked_text
    FROM m
    """,
)
def ext_mask_tokens(spark, sf_dir):
    """Deterministic MLM-style token masking (~15% of positions → a
    '<mask>' sentinel): the training-objective prep step between a curated
    corpus and a masked-LM batch. Mask decisions are the corpus's standard
    multiplicative hash over (doc_id, position) — never rand() — so a
    retried/speculated task masks identical positions and the epoch is
    byte-reproducible.

    Scale shape: pure map-side array lambdas inside the row (transform +
    filter with index semantics); zero shuffles, zero UDFs. The position
    index is 1-based to match DuckDB's lambda index, pinning the same
    hash input on both engines."""
    d = views(spark, sf_dir).table("documents")
    toks = F.split("text", " ")

    def mask(x, i):
        key = _hkey(F.col("doc_id") * F.lit(1_000_003) + (i + F.lit(1)))
        return F.when(key % 100 < 15, F.lit("<mask>")).otherwise(x)

    masked = F.transform(toks, mask)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(masked, lambda w: w == F.lit("<mask>")))
        .cast("long")
        .alias("n_masked"),
        F.array_join(masked, " ").alias("masked_text"),
    )


@register(
    "ext-dedup-paragraph",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    u AS (
        SELECT doc_id, toks, g
        FROM t, UNNEST(generate_series(0, len(toks) - 1, 5)) AS s(g)),
    c AS (
        SELECT doc_id, g // 5 AS idx,
               array_to_string(toks[g + 1 : g + 5], ' ') AS chunk
        FROM u),
    k AS (
        SELECT doc_id, idx, chunk,
               ROW_NUMBER() OVER (PARTITION BY chunk
                                  ORDER BY doc_id, idx) AS rn
        FROM c),
    r AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(chunk, ' ' ORDER BY idx) AS text_dedup
        FROM k WHERE rn = 1 GROUP BY 1)
    SELECT t.doc_id,
           CAST((len(toks) + 4) // 5 AS BIGINT) AS n_chunks,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.text_dedup, '') AS text_dedup
    FROM t LEFT JOIN r ON t.doc_id = r.doc_id
    """,
)
def ext_dedup_paragraph(spark, sf_dir):
    """Corpus-level repeated-passage removal (the CCNet / RefinedWeb
    paragraph-dedup step): the corpus is cut into fixed 5-token passages
    and every passage that already occurred ANYWHERE earlier in the corpus
    (first occurrence = smallest (doc_id, position)) is dropped, then each
    document is reassembled from its surviving passages in original order.
    Unlike ext-dedup-near (whole-document) or ext-dup-span (detection
    only), this TRANSFORMS the text -- the boilerplate-stripping pass that
    runs before tokenization. Documents that lose every passage survive
    with empty text (a downstream length filter's job, not this op's).

    Scale: passage explode is map-side; first-occurrence is ONE window
    shuffle hash-partitioned by passage text (high cardinality -- no hot
    partition; an over-represented boilerplate passage lands one partition
    with its duplicate count, bounded by corpus/5 rows, and only its
    min-key row survives the rank); reassembly is one groupBy doc_id with
    a sorted in-group collect bounded by document size. No all-pairs
    stage anywhere, linear in corpus tokens at 100 TB."""
    d = views(spark, sf_dir).table("documents")
    toks = F.split("text", " ")
    base = d.select(
        "doc_id",
        toks.alias("toks"),
        F.floor((F.size(toks) + 4) / 5).cast("long").alias("n_chunks"),
    )
    chunks = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("toks") - 1, F.lit(5))).alias(
            "g"
        ),
        F.col("toks"),
    ).select(
        "doc_id",
        F.floor(F.col("g") / 5).cast("long").alias("idx"),
        F.array_join(F.slice(F.col("toks"), F.col("g") + 1, 5), " ").alias(
            "chunk"
        ),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    kept = (
        chunks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("idx", "chunk"))
                    ),
                    lambda x: x["chunk"],
                ),
                " ",
            ).alias("text_dedup"),
        )
    )
    return base.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


@register(
    "ext-ngram-pmi",
    oracle="""
    WITH t AS (
        SELECT string_split(text, ' ') AS toks FROM documents),
    b AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1]))
               AS bg
        FROM t),
    bc AS (SELECT bg, COUNT(*) AS c12 FROM b GROUP BY 1),
    uc AS (
        SELECT w, COUNT(*) AS c1
        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
    tot AS (
        SELECT CAST(SUM(len(toks)) AS DOUBLE) AS n_uni,
               CAST(SUM(len(toks) - 1) AS DOUBLE) AS n_big
        FROM t),
    s AS (
        SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
               c12 FROM bc WHERE c12 >= 5)
    SELECT s.w1, s.w2, CAST(s.c12 AS BIGINT) AS c12,
           round(ln((s.c12 / tot.n_big)
                    / ((u1.c1 / tot.n_uni) * (u2.c1 / tot.n_uni))), 6)
             AS pmi
    FROM s
    JOIN uc u1 ON u1.w = s.w1
    JOIN uc u2 ON u2.w = s.w2
    CROSS JOIN tot
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def ext_ngram_pmi(spark, sf_dir):
    """Bigram collocation mining via pointwise mutual information:
    PMI(w1,w2) = ln( p(w1,w2) / (p(w1) p(w2)) ), top-20 over bigrams seen
    at least 5 times -- the statistic tokenizer/vocab pipelines use to
    decide which word pairs deserve a merged token (and the corpus-drift
    probe for phrase-level shifts). Counts are exact; the single ln() per
    surviving bigram differs across engines only in the last ulp, absorbed
    by round(6), and the top-20 orders by the ROUNDED value with (w1, w2)
    tie-breaks, so the cut is deterministic (the ext-bm25-search device).

    Scale: token/bigram explodes are map-side; two count shuffles whose
    output is vocabulary-bounded (vocab and vocab^2-observed, both far
    below corpus size); the unigram side and the 1-row totals broadcast
    into the bigram join, so no shuffle ever moves more than the bigram
    count table."""
    d = views(spark, sf_dir).table("documents")
    t = d.select(F.split("text", " ").alias("toks"))
    bg = t.select(
        F.explode(
            F.when(
                F.size("toks") > 1,
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                ),
            ).otherwise(F.expr("array()")),
        ).alias("b")
    ).select("b.w1", "b.w2")
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uc = (
        t.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    tot = t.agg(
        F.sum(F.size("toks")).cast("double").alias("n_uni"),
        F.sum(F.size("toks") - 1).cast("double").alias("n_big"),
    )
    s = bc.filter(F.col("c12") >= 5)
    j = (
        s.join(F.broadcast(uc.withColumnRenamed("w", "w1")), "w1")
        .withColumnRenamed("c1", "c1_left")
        .join(
            F.broadcast(
                uc.withColumnRenamed("w", "w2").withColumnRenamed("c1", "c2")
            ),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.round(
        F.log(
            (F.col("c12") / F.col("n_big"))
            / ((F.col("c1_left") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
        ),
        6,
    )
    return (
        j.select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            pmi.alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


_BPE_ROUNDS = 3


def _bpe_cte() -> str:
    """Shared WITH body: word vocabulary -> 3 BPE merge rounds (rep3).
    Reused by the ext-bpe-train oracle and the ext-tokenize-apply oracle
    so training semantics cannot drift between the two entries."""
    sql = r"""
    WITH toks AS (
        SELECT UNNEST(string_split(
            regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' ')) AS w
        FROM documents),
    words AS (
        SELECT w AS word, COUNT(*) AS cnt FROM toks
        WHERE length(w) BETWEEN 2 AND 12 GROUP BY 1),
    rep0 AS (
        SELECT word, cnt,
               '|' || regexp_replace(word, '(.)', '\1|', 'g') AS rep
        FROM words)"""
    for i in range(1, _BPE_ROUNDS + 1):
        sql += f""",
    pr{i} AS (
        SELECT s[j] || '|' || s[j + 1] AS pair, CAST(SUM(cnt) AS BIGINT) AS c
        FROM (SELECT cnt,
                     list_filter(string_split(rep, '|'), x -> x <> '') AS s
              FROM rep{i - 1}),
             UNNEST(generate_series(1, len(s) - 1)) AS u(j)
        GROUP BY 1),
    top{i} AS (SELECT pair, c FROM pr{i} ORDER BY c DESC, pair LIMIT 1),
    rep{i} AS (
        SELECT word, cnt,
               replace(rep, '|' || pair || '|',
                       '|' || replace(pair, '|', '') || '|') AS rep
        FROM rep{i - 1}, top{i})"""
    return sql


def _bpe_oracle() -> str:
    selects = [
        f"""
    SELECT {i} AS merge_round,
           string_split(pair, '|')[1] AS sym_a,
           string_split(pair, '|')[2] AS sym_b,
           replace(pair, '|', '') AS merged,
           c AS pair_count
    FROM top{i}"""
        for i in range(1, _BPE_ROUNDS + 1)
    ]
    return (
        _bpe_cte()
        + "\n"
        + "\n    UNION ALL\n".join(selects)
        + "\n    ORDER BY merge_round"
    )


def _bpe_reps(spark, sf_dir):
    """Run the 3-round BPE training loop; returns (rep_final, tops) where
    rep_final is the word vocabulary with its post-merge piped symbol
    representation and tops is the per-round merge list. Shared by
    ext-bpe-train (emits the merges) and ext-tokenize-apply (applies the
    trained representation to documents)."""
    cat = views(spark, sf_dir)
    d = cat.table("documents")

    def _build_words():
        toks = d.select(
            F.explode(
                F.split(F.regexp_replace(F.lower("text"), "[^a-z ]", ""), " ")
            ).alias("w")
        )
        return (
            toks.filter((F.length("w") >= 2) & (F.length("w") <= 12))
            .groupBy(F.col("w").alias("word"))
            .agg(F.count("*").alias("cnt"))
        )

    # The word vocabulary IS the one corpus-sized shuffle of BPE training
    # (the docstring's scale device 1) and every merge round's pair count
    # chains back to it — a catalog artifact so the corpus explode +
    # aggregation runs once per catalog, not once per training/encode
    # invocation; vocabulary-sized storage, evicted with the other
    # artifacts.
    words = cat.artifact("bpe_words", lambda: _build_words().persist())
    rep = words.select(
        "word",
        "cnt",
        F.concat(F.lit("|"), F.regexp_replace("word", "(.)", "$1|")).alias("rep"),
    )
    pair_expr = (
        "CASE WHEN size(filter(split(rep, '[|]'), x -> x != '')) >= 2 "
        "THEN transform(sequence(0, size(filter(split(rep, '[|]'), x -> x != '')) - 2), "
        "j -> filter(split(rep, '[|]'), x -> x != '')[j] || '|' "
        "|| filter(split(rep, '[|]'), x -> x != '')[j + 1]) "
        "ELSE array() END"
    )
    tops = []
    for i in range(1, _BPE_ROUNDS + 1):
        pairs = rep.select("cnt", F.explode(F.expr(pair_expr)).alias("pair"))
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").cast("bigint").alias("c"))
            .orderBy(F.desc("c"), "pair")
            .limit(1)
        )
        tops.append(
            top.select(
                F.lit(i).alias("merge_round"),
                F.expr("split(pair, '[|]')[0]").alias("sym_a"),
                F.expr("split(pair, '[|]')[1]").alias("sym_b"),
                F.expr("replace(pair, '|', '')").alias("merged"),
                F.col("c").alias("pair_count"),
            )
        )
        rep = rep.crossJoin(F.broadcast(top)).select(
            "word",
            "cnt",
            F.expr(
                "replace(rep, '|' || pair || '|', "
                "'|' || replace(pair, '|', '') || '|')"
            ).alias("rep"),
        )
    return rep, tops


@register("ext-bpe-train", oracle=_bpe_oracle())
def ext_bpe_train(spark, sf_dir):
    """BPE tokenizer training, first 3 merges: the iterative
    pair-count -> argmax -> merge-apply loop at the heart of every
    modern tokenizer, run corpus-wide. Words are piped symbol strings
    ('|h|e|' ...); a merge rewrites '|a|b|' to '|ab|' -- the leading
    delimiter makes the pattern unambiguous (no match can start inside
    a symbol), and sequential left-to-right replace semantics were
    pinned identical across engines before relying on them.

    Scale devices: (1) training iterates over the WORD VOCABULARY with
    counts, aggregated from the corpus exactly once -- the corpus-sized
    shuffle happens one time, every merge round then touches
    vocabulary-sized data (the classic BPE-training optimization);
    (2) the per-round argmax is a top-1 over the pair-count table
    (vocabulary-bounded), broadcast back into the rewrite -- no
    driver-side loop state beyond the fixed round count. Symbol pairs
    are built with a guarded transform (a fully-merged word yields no
    pairs, not a descending sequence). Counts are exact BIGINTs; the
    argmax tie-break is (count DESC, pair ASC)."""
    _rep, tops = _bpe_reps(spark, sf_dir)
    out = tops[0]
    for t in tops[1:]:
        out = out.unionAll(t)
    return out.orderBy("merge_round")


def _tokenize_apply_oracle() -> str:
    return (
        _bpe_cte()
        + """,
    dtoks AS (
        SELECT doc_id, UNNEST(string_split(
            regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' ')) AS w
        FROM documents),
    j AS (
        SELECT doc_id,
               len(list_filter(string_split(rep, '|'), x -> x <> '')) AS ntok
        FROM dtoks JOIN rep"""
        + str(_BPE_ROUNDS)
        + """ ON dtoks.w = word)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(ntok) AS DOUBLE) / COUNT(*) AS tokens_per_word
    FROM j GROUP BY doc_id
    """
    )


@register("ext-tokenize-apply", oracle=_tokenize_apply_oracle())
def ext_tokenize_apply(spark, sf_dir):
    """Apply the trained BPE merges (ext-bpe-train, shared ``_bpe_reps``
    loop) to every document: per-doc token counts under the learned
    subword vocabulary -- the encode step of the tokenizer, the number
    every training-data pipeline needs per document (sequence packing,
    token budgets, cost estimates). Words outside the trained vocabulary
    (length outside 2..12 after normalization) are excluded on both
    engines by the inner vocab join.

    Scale: the trained representation table is VOCABULARY-sized (unique
    words, not corpus rows) and broadcast into the document-word join,
    so the corpus-sized path is one map-side explode + broadcast-join +
    one partial-aggregated groupBy(doc_id) -- no second corpus shuffle.
    At extreme vocab sizes the broadcast degrades to a plain equi-join
    on the word key (swap the hint), same semantics."""
    rep, _tops = _bpe_reps(spark, sf_dir)
    d = views(spark, sf_dir).table("documents")
    dtoks = d.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.lower("text"), "[^a-z ]", ""), " ")
        ).alias("w"),
    )
    ntok = F.size(F.expr("filter(split(rep, '[|]'), x -> x != '')"))
    j = dtoks.join(
        F.broadcast(rep.withColumnRenamed("word", "w").select("w", "rep")),
        "w",
    ).select("doc_id", ntok.alias("ntok"))
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("ntok").cast("bigint").alias("n_tokens"),
        (F.sum("ntok").cast("double") / F.count("*")).alias("tokens_per_word"),
    )


@register(
    "ext-span-corruption",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, s[j] AS tok, CAST(j AS BIGINT) - 1 AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
             UNNEST(generate_series(1, len(s))) AS u(j)),
    m AS (
        SELECT doc_id, tok, pos,
               ({_hkey_sql('doc_id * 4096 + pos')}) % 7 = 0 OR
               (pos >= 1 AND ({_hkey_sql('doc_id * 4096 + pos - 1')}) % 7 = 0) OR
               (pos >= 2 AND ({_hkey_sql('doc_id * 4096 + pos - 2')}) % 7 = 0)
                 AS masked
        FROM toks)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           string_agg(CASE WHEN masked THEN '<X>' ELSE tok END, ' '
                      ORDER BY pos) AS corrupted_text
    FROM m GROUP BY doc_id
    """,
)
def ext_span_corruption(spark, sf_dir):
    """T5-style span corruption: deterministic ~1/7 of token positions
    start a 3-token masked span; overlapping spans merge. The
    denoising-objective preprocessing step of an LLM pipeline, with the
    corpus rule that randomness is a MULTIPLICATIVE HASH of
    (doc_id, position) -- reruns and retries mask the identical spans,
    and a token is masked iff a span starts at pos, pos-1 or pos-2
    (three hash probes, no self-join over span extents). Token position
    is split ordinality, identical in both engines.

    Scale: tokenize -> hash -> reassemble is map-side per document; the
    per-doc ordered reassembly sorts the doc's own tokens only (array
    sort of a document-bounded list, the ext-dedup-paragraph device)."""
    d = views(spark, sf_dir).table("documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    def _start(shift):
        probe = F.col("doc_id") * 4096 + F.col("pos") - shift
        hit = _hkey(probe) % 7 == F.lit(0)
        if shift:
            return (F.col("pos") >= shift) & hit
        return hit
    m = toks.select(
        "doc_id",
        "pos",
        "tok",
        (_start(0) | _start(1) | _start(2)).alias("masked"),
    )
    out_tok = F.when(F.col("masked"), F.lit("<X>")).otherwise(F.col("tok"))
    return m.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("masked").cast("int")).cast("bigint").alias("n_masked"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), out_tok.alias("t")))
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("corrupted_text"),
    )


@register(
    "ext-quality-bigram-logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, j AS pos, s[j] AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
             UNNEST(generate_series(1, len(s))) AS u(j)),
    bi AS (
        SELECT doc_id, tok,
               LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM toks),
    bi2 AS (SELECT * FROM bi WHERE prev IS NOT NULL),
    uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM toks),
    bvoc AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS cnt2
             FROM bi2 GROUP BY 1, 2),
    ctx AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS cctx FROM bi2 GROUP BY 1)
    SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
           {dsum_q4_sql('''k * CAST(ln(
                     (CAST(cnt2 AS DOUBLE) / CAST(cctx AS DOUBLE)
                      + CAST(cnt AS DOUBLE) / total) / 2)
                 AS DECIMAL(28,4))''')}
               / SUM(k) AS logprob_per_bigram
    FROM (SELECT doc_id, prev, tok, CAST(COUNT(*) AS BIGINT) AS k
          FROM bi2 GROUP BY 1, 2, 3) occ
    JOIN bvoc USING (prev, tok)
    JOIN ctx USING (prev)
    JOIN uni USING (tok), n
    GROUP BY doc_id
    """,
)
def ext_quality_bigram_logprob(spark, sf_dir):
    """Interpolated bigram language-model quality score: each document's
    mean per-bigram log-probability under p = (p_bigram + p_unigram)/2
    trained on the corpus itself -- one LM order above
    ext-quality-unigram-logprob, so word-salad documents whose unigrams
    are individually common but whose SEQUENCES are improbable now score
    low (the CCNet-perplexity shape, engine-native). lambda = 1/2 makes
    the interpolation an exact halving; both conditional and marginal
    probabilities are int64->double divisions (hardware-identical), and
    ln() values are quantized to the 1e-4 DECIMAL(28,4) grid before
    summing (the shared cross-engine ln-skew device; the unigram entry
    uses the same grid) so the per-doc sum is order-independent, and the
    mean exits UNROUNDED through the scaled-BIGINT device -- no rounded
    double ever ships.

    Scale: bigram positions come from a doc-key window (hash-partitioned
    on doc_id, the corpus-sized shuffle); both vocabularies are bounded
    by distinct n-grams, not corpus rows, and join back bucket-wise or
    broadcast under AQE; the per-doc reduce is one partial-aggregated
    groupBy."""
    d = views(spark, sf_dir).table("documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi2 = (
        toks.select("doc_id", "tok", F.lag("tok").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
    )
    uni = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = toks.agg(F.count("*").cast("double").alias("total"))
    bvoc = bi2.groupBy("prev", "tok").agg(F.count("*").alias("cnt2"))
    ctx = bi2.groupBy("prev").agg(F.count("*").alias("cctx"))
    p = (
        F.col("cnt2").cast("double") / F.col("cctx").cast("double")
        + F.col("cnt").cast("double") / F.col("total")
    ) / 2
    # pre-aggregate per-(doc, bigram) occurrence counts BEFORE the vocab
    # joins: repeated bigrams (exactly what this score flags) then probe
    # each join once, and k * quantized(ln p) in DECIMAL is exactly the
    # k-fold sum, so the result is bit-identical to the per-occurrence
    # form. Quantization is DECIMAL(28,4) — the 1e-4 grid both LM
    # entries share, because JVM and DuckDB ln() disagree by ~1e-13
    # (hundreds of ulps, measured: a 1e-6 grid flipped 1 term at sf0.1
    # and a 1e-9 grid flipped dozens). At 1e-4 the per-term boundary-flip
    # probability is ~1e-9, negligible over any corpus this engine
    # tests; a quality score does not need more than 4 exact decimals
    # per term.
    occ = bi2.groupBy("doc_id", "prev", "tok").agg(
        F.count("*").alias("k")
    )
    return (
        occ.join(bvoc, ["prev", "tok"])
        .join(ctx, "prev")
        .join(uni, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            (
                dsum_q4(F.col("k") * F.log(p).cast("decimal(28,4)"))
                / F.sum("k")
            ).alias("logprob_per_bigram"),
        )
    )


def _vocab_growth_oracle() -> str:
    from dbtwiz_spark.ops.common import hkey_sql

    b = f"({hkey_sql('doc_id')}) % 10 + 1"
    return f"""
    WITH dt AS (
        SELECT {b} AS bucket, unnest(string_split(text, ' ')) AS tok
        FROM documents),
    nt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
           FROM dt GROUP BY 1),
    fb AS (SELECT tok, MIN(bucket) AS bucket FROM dt GROUP BY 1),
    nd AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new
           FROM fb GROUP BY 1),
    grid AS (SELECT CAST(r AS BIGINT) AS bucket
             FROM UNNEST(generate_series(1, 10)) AS g(r)),
    j AS (
        SELECT g.bucket,
               COALESCE(nt.n_tokens, 0) AS n_tokens,
               COALESCE(nd.n_new, 0) AS n_new
        FROM grid g
        LEFT JOIN nt ON nt.bucket = g.bucket
        LEFT JOIN nd ON nd.bucket = g.bucket)
    SELECT bucket,
           CAST(SUM(n_tokens) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens,
           CAST(SUM(n_new) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_distinct
    FROM j
    """


@register("ext-vocab-growth", oracle=_vocab_growth_oracle())
def ext_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (Heaps' law profile): cumulative distinct
    tokens vs cumulative tokens seen as the corpus is consumed in 10
    deterministic hash-order chunks -- the saturation diagnostic a
    training-data curator reads before deciding whether more of a source
    still buys new vocabulary. A token's first appearance is its MIN
    chunk (one groupBy over the token vocabulary, never a sequential
    scan); per-chunk totals then prefix-sum over the fixed 10-row grid
    (densified so empty chunks hold zeros) via
    ``common.parallel_prefix_sum``.

    Scale: two partial-aggregated shuffles over corpus tokens (per-chunk
    counts + first-appearance vocab reduce); everything after runs on 10
    rows. The chunk key is the Knuth hash of doc_id -- replayable, no
    rand(), and any chunk count K works unchanged."""
    from dbtwiz_spark.ops.common import hkey, parallel_prefix_sum

    cat = views(spark, sf_dir)
    d = cat.table("documents")
    dt = d.select(
        (hkey(F.col("doc_id")) % 10 + 1).alias("bucket"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    nt = dt.groupBy("bucket").agg(F.count("*").alias("n_tokens"))
    fb = dt.groupBy("tok").agg(F.min("bucket").alias("bucket"))
    nd = fb.groupBy("bucket").agg(F.count("*").alias("n_new"))
    grid = spark.range(1, 11).select(F.col("id").alias("bucket"))
    j = (
        grid.join(F.broadcast(nt), "bucket", "left")
        .join(F.broadcast(nd), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    cum = cat.artifact(
        "ext-vocab-growth:bucket",
        lambda: parallel_prefix_sum(j, [F.col("bucket")], ["n_tokens", "n_new"]),
    )
    return cum.select(
        "bucket",
        F.col("_cum_n_tokens").cast("long").alias("cum_tokens"),
        F.col("_cum_n_new").cast("long").alias("cum_distinct"),
    )


@register(
    "ext-classify-naive-bayes",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang AS true_lang,
               unnest(string_split(text, ' ')) AS tok
        FROM documents),
    tk AS (SELECT doc_id, true_lang, tok,
                  CAST(COUNT(*) AS DECIMAL(9,0)) AS k
           FROM toks GROUP BY 1, 2, 3),
    langs AS (SELECT DISTINCT lang FROM documents),
    cnt AS (SELECT true_lang AS lang, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2),
    tl AS (SELECT true_lang AS lang, CAST(COUNT(*) AS BIGINT) AS t
           FROM toks GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks),
    pri AS (
        SELECT lang,
               CAST(ln(CAST(COUNT(*) AS DOUBLE)
                       / (SELECT COUNT(*) FROM documents))
                    AS DECIMAL(28,4)) AS pq
        FROM documents GROUP BY 1),
    contrib AS (
        SELECT tk.doc_id, tk.true_lang, l.lang,
               tk.k * CAST(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                              / CAST(tl.t + v.v AS DOUBLE))
                           AS DECIMAL(28,4)) AS kq
        FROM tk
        CROSS JOIN langs l
        LEFT JOIN cnt c ON c.lang = l.lang AND c.tok = tk.tok
        JOIN tl ON tl.lang = l.lang, v),
    sc AS (
        SELECT contrib.doc_id, contrib.true_lang, contrib.lang,
               SUM(kq) + ANY_VALUE(pri.pq) AS score
        FROM contrib JOIN pri ON pri.lang = contrib.lang
        GROUP BY 1, 2, 3),
    pred AS (
        SELECT doc_id, true_lang, lang AS pred_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang) AS rn
        FROM sc)
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
)
def ext_classify_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes language classifier trained ON the corpus
    and evaluated on it (Laplace add-1 smoothing), reported as the
    confusion matrix -- the trainable-classifier member of the curation
    family (alongside ext-bpe-train's tokenizer): data pipelines train
    exactly this shape of cheap classifier for domain/quality routing
    (CCNet, DCLM), and the confusion matrix against the heuristic
    ext-lang-id is the calibration readout. Determinism: every log term
    is quantized to the 1e-4 DECIMAL grid (the cross-engine ln-skew
    device) and scores stay EXACT DECIMAL through the argmax, which
    breaks ties (score DESC, lang ASC) -- no double ever enters the
    ranking. Scoring pre-aggregates per-(doc, token) occurrence counts
    k BEFORE the class fan-out (the bigram entry's occ/k device):
    k * quantized(ln p) in DECIMAL(9,0) x DECIMAL(28,4) = DECIMAL(38,4)
    is exactly the k-fold sum, bit-identical to per-occurrence folding.

    Scale: training is one (lang, token) count shuffle over the corpus
    plus a vocabulary-bounded totals table; scoring explodes distinct
    (doc, token) pairs x |classes| (bounded fan-out, 5 here) with the
    vocabulary-sized count table joined shuffle-wise on the token key
    (AQE broadcasts it when it fits -- never forced, it grows with the
    vocabulary), then one partial-aggregated (doc, class) reduce and a
    per-doc argmax window. The corpus doc count folds into the lazy
    plan as a broadcast 1-row aggregate, not an eager .count() job.
    |classes| is the only fan-out factor -- the same plan serves any
    bounded label set."""
    d = views(spark, sf_dir).table("documents")
    toks = d.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    tk = toks.groupBy("doc_id", "true_lang", "tok").agg(
        F.count("*").cast("decimal(9,0)").alias("k")
    )
    langs = d.select(F.col("lang")).distinct()
    cnt = toks.groupBy(
        F.col("true_lang").alias("lang"), "tok"
    ).agg(F.count("*").alias("c"))
    tl = toks.groupBy(F.col("true_lang").alias("lang")).agg(
        F.count("*").alias("t")
    )
    v = toks.agg(F.countDistinct("tok").alias("v"))
    total = d.agg(F.count("*").alias("n_total"))
    pri = (
        d.groupBy("lang")
        .agg(F.count("*").alias("nl"))
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            F.log(
                F.col("nl").cast("double")
                / F.col("n_total").cast("double")
            )
            .cast("decimal(28,4)")
            .alias("pq"),
        )
    )
    contrib = (
        tk.crossJoin(F.broadcast(langs))
        .join(cnt, ["lang", "tok"], "left")
        .join(F.broadcast(tl), "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "true_lang",
            "lang",
            (
                F.col("k")
                * F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("t") + F.col("v")).cast("double")
                ).cast("decimal(28,4)")
            ).alias("kq"),
        )
    )
    sc = (
        contrib.join(F.broadcast(pri), "lang")
        .groupBy("doc_id", "true_lang", "lang")
        .agg((F.sum("kq") + F.first("pq")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang")
    )
    pred = sc.select(
        "true_lang",
        F.col("lang").alias("pred_lang"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") == 1)
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )


@register(
    "ext-length-decile-mix",
    oracle="""
    WITH r AS (
        SELECT lang,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk,
               COUNT(*) OVER () AS n
        FROM documents),
    d AS (
        SELECT lang, CAST((rk - 1) * 10 // n + 1 AS BIGINT) AS decile
        FROM r),
    c AS (
        SELECT decile, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM d GROUP BY 1, 2),
    t AS (
        SELECT decile, CAST(SUM(n_docs) AS BIGINT) AS dt FROM c GROUP BY 1)
    SELECT c.decile, c.lang, c.n_docs,
           CAST(c.n_docs AS DOUBLE) / CAST(t.dt AS DOUBLE) AS share
    FROM c JOIN t USING (decile)
    """,
)
def ext_length_decile_mix(spark, sf_dir):
    """Language composition across document-length deciles -- the drift
    diagnostic a curator reads before length-filtering a corpus: if one
    language concentrates in the short deciles, a global length cutoff
    silently reshapes the language mix. Deciles come from the exact
    global rank over the unique (n_chars, doc_id) order, bucketed by
    INTEGER floor-division ((rank-1)*10 div n + 1) -- never ntile or a
    float divide, so bucket edges are bit-identical across engines; the
    per-decile share is one exact-int division (correctly rounded
    identically on both sides, shipped unrounded).

    Scale: the rank uses ``common.parallel_rank`` (range-partition +
    local row_number + driver-side partition offsets), never a
    single-partition global window; everything after runs on the
    bounded (decile, lang) grid."""
    from dbtwiz_spark.ops.common import parallel_rank

    cat = views(spark, sf_dir)
    d = cat.table("documents").select("doc_id", "lang", "n_chars")
    r = cat.artifact(
        "ext-length-decile-mix:n_chars,doc_id",
        lambda: parallel_rank(d, [F.col("n_chars"), F.col("doc_id")]),
    )
    dec = r.select(
        "lang",
        (
            F.expr("div((_rank - 1) * 10, _n)") + 1
        ).cast("long").alias("decile"),
    )
    c = dec.groupBy("decile", "lang").agg(F.count("*").alias("n_docs"))
    t = c.groupBy("decile").agg(F.sum("n_docs").alias("dt"))
    return c.join(F.broadcast(t), "decile").select(
        "decile",
        "lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("dt").cast("double")).alias(
            "share"
        ),
    )


def _novelty_gram_sql(n: int) -> str:
    """Distinct n-gram sets of the train (hash<80) and test (hash>=90)
    splits, mirroring ext_llm.shingles' construction exactly."""
    joined = " || ' ' || ".join(f"a[i+{j}]" for j in range(n))
    return f"""
        SELECT split, gram FROM (
            SELECT DISTINCT
                   CASE WHEN {_hkey_sql('doc_id')} % 100 < 80 THEN 'train'
                        WHEN {_hkey_sql('doc_id')} % 100 >= 90 THEN 'test'
                   END AS split,
                   unnest(list_transform(
                       generate_series(1, len(a) - {n - 1}),
                       i -> {joined})) AS gram
            FROM (SELECT doc_id, string_split(text, ' ') AS a
                  FROM documents))
        WHERE split IS NOT NULL"""


@register(
    "ext-ngram-novelty",
    oracle=f"""
    WITH g2 AS ({_novelty_gram_sql(2)}),
    g3 AS ({_novelty_gram_sql(3)}),
    g5 AS ({_novelty_gram_sql(5)}),
    all_g AS (
        SELECT 2 AS n, * FROM g2
        UNION ALL SELECT 3, * FROM g3
        UNION ALL SELECT 5, * FROM g5),
    test_g AS (SELECT n, gram FROM all_g WHERE split = 'test'),
    train_g AS (SELECT DISTINCT n, gram FROM all_g WHERE split = 'train'),
    novel AS (
        SELECT t.n, COUNT(*) AS n_test_grams,
               SUM(CASE WHEN tr.gram IS NULL THEN 1 ELSE 0 END) AS n_novel
        FROM test_g t LEFT JOIN train_g tr
          ON tr.n = t.n AND tr.gram = t.gram
        GROUP BY 1)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n_test_grams AS BIGINT) AS n_test_grams,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(n_novel AS DOUBLE) / CAST(n_test_grams AS DOUBLE)
               AS novelty_rate
    FROM novel
    """,
)
def ext_ngram_novelty(spark, sf_dir):
    """N-gram novelty of the held-out split: for n in {2, 3, 5}, the
    fraction of the test split's distinct n-grams never seen in the
    train split -- the memorization/coverage curve (novelty rising with
    n is the expected shape; a low 5-gram novelty flags train-test
    leakage, the inverse of ext-decontaminate's gate). Splits are the
    deterministic hash buckets of ext-split-train-eval, grams are
    ext_llm.shingles' construction, and the rate is one exact int/int
    double divide, unrounded.

    Scale: per n one distinct over (split, gram) -- map-side explode,
    one shuffle keyed by gram -- then a gram-keyed LEFT ANTI-shaped join
    (spelled as left join + null count so the denominator rides along);
    never a pairwise doc comparison. The three n values are independent
    pipelines unioned at the 3-row summary, so a cluster runs them in
    parallel stages."""
    from dbtwiz_spark.ops.ext_llm import shingles

    d = views(spark, sf_dir).table("documents")
    bucket = _hkey(F.col("doc_id")) % 100
    base = d.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket >= 90, "test"),
    ).filter(F.col("split").isNotNull())
    outs = []
    for n in (2, 3, 5):
        sh = shingles(base, n)
        tagged = sh.join(
            base.select("doc_id", "split"), "doc_id"
        ).select("split", F.col("shingle").alias("gram"))
        test_g = tagged.filter(F.col("split") == "test").select("gram").distinct()
        train_g = (
            tagged.filter(F.col("split") == "train").select("gram").distinct()
        )
        novel = test_g.join(
            train_g.withColumnRenamed("gram", "tg"),
            test_g.gram == F.col("tg"),
            "left",
        ).agg(
            F.count("*").alias("n_test_grams"),
            F.sum(F.col("tg").isNull().cast("long")).alias("n_novel"),
        )
        outs.append(
            # the oracle's GROUP BY emits NO row for an n with zero test
            # grams, while a global agg always emits one — filter the
            # empty case out (also guards the 0-denominator divide,
            # which ANSI Spark errors on where DuckDB returns NULL)
            novel.filter(F.col("n_test_grams") > 0).select(
                F.lit(n).cast("long").alias("n"),
                "n_test_grams",
                "n_novel",
                (
                    F.col("n_novel").cast("double")
                    / F.col("n_test_grams").cast("double")
                ).alias("novelty_rate"),
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionAll(df)
    return out


@register(
    "ext-perplexity-filter",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    vocab AS (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM toks),
    scored AS (
        SELECT doc_id,
               {dsum_q4_sql('ln(cnt / total)')} / COUNT(*) AS score
        FROM toks JOIN vocab USING (tok), n
        GROUP BY doc_id),
    rk AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score, doc_id) AS r,
               COUNT(*) OVER () AS nd
        FROM scored),
    gated AS (
        SELECT d.lang, d.source, d.n_chars,
               CASE WHEN (rk.r - 1) * 10 // rk.nd + 1 >= 3
                    THEN 1 ELSE 0 END AS kept
        FROM documents d JOIN rk ON rk.doc_id = d.doc_id)
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS DOUBLE)
               / CAST(SUM(n_chars) AS DOUBLE) AS kept_char_share
    FROM gated GROUP BY 1, 2
    """,
)
def ext_perplexity_filter(spark, sf_dir):
    """LM-quality gate: score every document by its mean unigram
    log-probability (the ext-quality-unigram-logprob proxy for a KenLM
    perplexity filter), drop the WORST two deciles corpus-wide, and
    report the per-(lang, source) survival histogram -- the actual
    CCNet-style curation step, not just the score. Deciles come from
    the exact global rank over the unique (score, doc_id) order via
    ``common.parallel_rank`` bucketed by integer floor-division (the
    ext-length-decile-mix device); the score itself is bit-identical
    across engines (1e-4 ln grid + scaled-BIGINT exit + one divide), so
    the rank -- and therefore the gate -- is deterministic. The char
    share is one exact BIGINT/BIGINT double divide, unrounded.

    Scale: vocab join + per-doc reduce (the unigram entry's shape), one
    rank pass over the per-DOC score table (corpus docs, not tokens),
    one join back to the doc dims, one grouped reduce. The gate is a
    threshold on a rank -- no per-decile self-joins."""
    from dbtwiz_spark.ops.common import parallel_rank

    cat = views(spark, sf_dir)
    d = cat.table("documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = toks.agg(F.count("*").cast("double").alias("total"))
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            (dsum_q4(F.log(F.col("cnt") / F.col("total"))) / F.count("*"))
            .alias("score")
        )
    )
    rk = cat.artifact(
        "ext-perplexity-filter:score,doc_id",
        lambda: parallel_rank(scored, ["score", "doc_id"]),
    )
    gated = d.join(
        rk.select(
            "doc_id",
            (F.expr("div((_rank - 1) * 10, _n)") + 1 >= 3)
            .cast("long")
            .alias("kept"),
        ),
        "doc_id",
    )
    return gated.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        (
            F.sum(F.when(F.col("kept") == 1, F.col("n_chars")).otherwise(0))
            .cast("double")
            / F.sum("n_chars").cast("double")
        ).alias("kept_char_share"),
    )


@register(
    "ext-split-leak-audit",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, string_split(text, ' ') AS a,
               CASE WHEN {_hkey_sql('doc_id')} % 100 < 80 THEN 'train'
                    WHEN {_hkey_sql('doc_id')} % 100 >= 90 THEN 'test'
               END AS split
        FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, split,
               unnest(list_transform(generate_series(1, len(a) - 4),
                      i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' '
                           || a[i+3] || ' ' || a[i+4])) AS shingle
        FROM arrs WHERE split IS NOT NULL),
    train_sh AS (
        SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
    test_docs AS (
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_shared
        FROM sh s LEFT JOIN train_sh t ON t.shingle = s.shingle
        WHERE s.split = 'test' GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test_docs,
           CAST(SUM(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated_docs,
           CAST(SUM(n_shared) AS BIGINT) AS shared_gram_hits,
           CAST(SUM(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS contamination_rate
    FROM test_docs
    """,
)
def ext_split_leak_audit(spark, sf_dir):
    """Train/test leakage audit at the 5-gram level: how many test-split
    documents share at least one 5-gram with the train split, and how
    many of their grams are covered -- the gate an eval set must pass
    before any benchmark number is trusted (ext-decontaminate REMOVES
    contamination from training; this MEASURES the eval set's exposure,
    the audit a pipeline runs on every refresh). Splits are the
    deterministic hash buckets of ext-split-train-eval, grams are
    ext_llm.shingles' construction, the rate is one exact int/int
    double divide, unrounded. (Exact-verbatim leakage is the n_shared ==
    n_grams extreme of the same measurement.)

    Scale: one distinct per-doc shingle pass per split, a gram-keyed
    LEFT join of the test grams against the train gram set (the
    ext-decontaminate semi-join with the count kept), one per-doc
    reduce, one 1-row summary. Never a doc-pair comparison."""
    from dbtwiz_spark.ops.ext_llm import shingles

    d = views(spark, sf_dir).table("documents")
    bucket = _hkey(F.col("doc_id")) % 100
    base = d.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket >= 90, "test"),
    ).filter(F.col("split").isNotNull())
    sh = shingles(base, 5).join(base.select("doc_id", "split"), "doc_id")
    train_sh = (
        sh.filter(F.col("split") == "train").select("shingle").distinct()
    )
    test_docs = (
        sh.filter(F.col("split") == "test")
        .join(
            train_sh.withColumnRenamed("shingle", "tsh"),
            F.col("shingle") == F.col("tsh"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("tsh").isNotNull().cast("long")).alias("n_shared"),
        )
    )
    return test_docs.agg(
        F.count("*").alias("n_test_docs"),
        F.sum((F.col("n_shared") > 0).cast("long")).alias(
            "n_contaminated_docs"
        ),
        F.sum("n_shared").alias("shared_gram_hits"),
        (
            F.sum((F.col("n_shared") > 0).cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("contamination_rate"),
    )


@register(
    "agg-auc-roc",
    oracle="""
    WITH g AS (
        SELECT n_chars AS v,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
               SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS nn
        FROM documents GROUP BY 1),
    r AS (
        SELECT v, np, nn, np + nn AS t,
               SUM(np + nn) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum
        FROM g),
    s AS (
        SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
               CAST(SUM(nn) AS BIGINT) AS n_neg,
               CAST(SUM(CAST(np AS HUGEINT)
                        * (2 * COALESCE(cum, 0) + t + 1)) AS BIGINT) AS rs2
        FROM r)
    SELECT n_pos, n_neg,
           CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
               / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
    FROM s
    """,
)
def agg_auc_roc(spark, sf_dir):
    """ROC AUC of a score against a binary outcome (here: does document
    length separate English from non-English?) via the exact rank-sum
    identity AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) -- the
    classifier-evaluation metric every curation-model loop reports,
    computed WITHOUT sorting predictions: ranks come from the
    distinct-value cumulative table (the agg-mann-whitney device; AUC
    and U are the same statistic in different clothes), ties contribute
    the exact average rank, and the DOUBLED rank sum stays integer all
    the way (DECIMAL / HUGEINT accumulators), leaving the exact domain
    through two single conversions and ONE divide -- bit-identical
    unrounded.

    Scale: one partial-aggregated groupBy on the score's value domain;
    the cumulative window runs over the DISTINCT-VALUE table (a
    continuous score would be quantized first, same shape). No
    corpus-sized sort, no per-threshold sweep -- the rank identity IS
    the integral."""
    d = views(spark, sf_dir).table("documents")
    g = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("np"),
        F.sum((F.col("lang") != "en").cast("long")).alias("nn"),
    )
    t = F.col("np") + F.col("nn")
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "np",
        "nn",
        t.alias("t"),
        F.coalesce(F.sum(t).over(w), F.lit(0)).alias("cum"),
    )
    s = r.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.sum(
            F.col("np").cast("decimal(28,0)")
            * (2 * F.col("cum") + F.col("t") + 1).cast("decimal(28,0)")
        )
        .cast("long")
        .alias("rs2"),
    )
    return s.select(
        "n_pos",
        "n_neg",
        (
            (F.col("rs2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast(
                "double"
            )
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


@register(
    "agg-calibration-ece",
    oracle=f"""
    WITH rk AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS r,
               COUNT(*) OVER () AS n
        FROM documents),
    b AS (
        SELECT CAST((r - 1) * 10 // n + 1 AS BIGINT) AS bin,
               CAST(r AS BIGINT) AS r, n,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM rk)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r) AS BIGINT) AS rank_sum,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(r) AS BIGINT)
               / CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
               AS mean_confidence,
           CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS observed_rate,
           CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
               * abs(CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                     - CAST(SUM(r) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)
                       / CAST(MAX(n) AS DOUBLE))
               AS ece_term
    FROM b GROUP BY 1
    """,
)
def agg_calibration_ece(spark, sf_dir):
    """Reliability diagram / expected-calibration-error bins: treat each
    document's exact length-percentile (rank/N) as a predicted
    probability of being English, bucket into 10 confidence bins, and
    report per-bin confidence vs observed rate plus the bin's weighted
    ECE contribution -- the calibration readout a curation-classifier
    loop tracks next to AUC (a separable-but-miscalibrated score
    misallocates every threshold decision). Percentiles are exact
    global ranks over the unique (n_chars, doc_id) order via
    ``common.parallel_rank``; bins are integer floor-division (the
    decile device); every shipped number is exact-integer sums through
    one or two correctly-rounded double divides, unrounded. Summing the
    10 ece_term rows gives ECE; shipping per-bin terms keeps the
    reduction engine-free.

    Scale: one rank pass over the doc table + a 10-key reduce. The
    oracle's global window is the semantic spec; the implementation
    never funnels through one partition."""
    from dbtwiz_spark.ops.common import parallel_rank

    cat = views(spark, sf_dir)
    d = cat.table("documents")
    # the same input and order as ext-length-decile-mix: one shared table
    rk = cat.artifact(
        "ext-length-decile-mix:n_chars,doc_id",
        lambda: parallel_rank(
            d.select("doc_id", "lang", "n_chars"), ["n_chars", "doc_id"]
        ),
    )
    b = rk.select(
        (F.expr("div((_rank - 1) * 10, _n)") + 1).alias("bin"),
        F.col("_rank").alias("r"),
        F.col("_n").alias("n"),
        (F.col("lang") == "en").cast("long").alias("pos"),
    )
    conf = (
        F.sum("r").cast("long").cast("double")
        / F.count("*").cast("double")
        / F.max("n").cast("double")
    )
    acc = F.sum("pos").cast("double") / F.count("*").cast("double")
    return b.groupBy(F.col("bin").cast("long").alias("bin")).agg(
        F.count("*").alias("n_docs"),
        F.sum("r").cast("long").alias("rank_sum"),
        F.sum("pos").alias("n_pos"),
        conf.alias("mean_confidence"),
        acc.alias("observed_rate"),
        (
            F.count("*").cast("double") / F.max("n").cast("double")
            * F.abs(acc - conf)
        ).alias("ece_term"),
    )


@register(
    "ext-source-similarity-matrix",
    oracle="""
    WITH st AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        FROM documents),
    sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2),
    grid AS (
        SELECT sa.source AS src_a, sb.source AS src_b,
               sa.n AS n_a, sb.n AS n_b
        FROM sz sa JOIN sz sb ON sa.source < sb.source)
    SELECT g.src_a, g.src_b, COALESCE(i.n_common, 0) AS n_common,
           g.n_a, g.n_b,
           CAST(COALESCE(i.n_common, 0) AS DOUBLE)
               / CAST(g.n_a + g.n_b - COALESCE(i.n_common, 0) AS DOUBLE)
               AS jaccard,
           CAST(COALESCE(i.n_common, 0) AS DOUBLE)
               / CAST(CASE WHEN g.n_a < g.n_b THEN g.n_a ELSE g.n_b END
                      AS DOUBLE) AS containment
    FROM grid g
    LEFT JOIN inter i ON i.src_a = g.src_a AND i.src_b = g.src_b
    """,
)
def ext_source_similarity_matrix(spark, sf_dir):
    """Pairwise vocabulary similarity between corpus sources: Jaccard
    and min-containment of each source pair's distinct-token sets --
    the domain-overlap matrix a mixture curator reads before setting
    ext-mix-domains weights (two near-identical domains double-count
    their mass) and the corpus-level cousin of graph-jaccard-neighbors.
    Exact integers through two unrounded int/int divides.

    Scale: the (source, token) DISTINCT bounds everything downstream by
    vocabulary size, not corpus size; the pair intersection is a
    token-keyed equi-join of that bounded table with itself (source
    count is small, vocab is the long axis -- the join fans out per
    token by #sources-containing, quadratic only in the TINY dimension;
    the `<` guard halves it). Never doc-pairs, never a cross join of
    corpora."""
    cat = views(spark, sf_dir)
    d = cat.table("documents")
    # persisted + memoized: BOTH self-join sides and the size branch
    # consume st — the tokenize+distinct is the expensive stage and would
    # run 3x. A catalog artifact, not a bare .cache(): every invocation
    # (oracle sweeps, bench best-of-3, multi-scale runs) would otherwise
    # leak a fresh persisted copy for the session lifetime (round-8
    # ADVICE — the parallel_rank leak pattern).
    st = cat.artifact(
        "srcsim_st",
        lambda: d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .persist(),
    )
    sz = st.groupBy("source").agg(F.count("*").alias("n"))
    a = st.select(F.col("source").alias("src_a"), "tok")
    b = st.select(F.col("source").alias("src_b"), F.col("tok").alias("tok_b"))
    inter = (
        a.join(b, (a.tok == b.tok_b) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    # full pair grid so zero-overlap pairs ship an EXPLICIT 0.0 rather
    # than silently vanishing from the matrix
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    grid = sa.join(sb, F.col("src_a") < F.col("src_b"))
    j = grid.join(inter, ["src_a", "src_b"], "left").withColumn(
        "n_common", F.coalesce(F.col("n_common"), F.lit(0))
    )
    return j.select(
        "src_a",
        "src_b",
        "n_common",
        "n_a",
        "n_b",
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
        (
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double")
        ).alias("containment"),
    )


@register(
    "ext-curation-pipeline-e2e",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, source, n_chars, text,
               string_split(text, ' ') AS a
        FROM documents WHERE doc_id % 97 <> 0),
    flags AS (
        SELECT doc_id, lang, source, a,
               len(a) >= 20 AND len(a) <= 100000
                   AND n_chars // len(a) BETWEEN 3 AND 12 AS f1,
               list_transform(generate_series(1, len(a) - 2),
                   i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2]) AS g3
        FROM base),
    rep AS (
        SELECT doc_id, lang, source, a, f1,
               f1 AND 50 * len(list_distinct(g3)) >= 49 * len(g3) AS f2
        FROM flags),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(a) - 4),
                   i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' '
                        || a[i+3] || ' ' || a[i+4])) AS shingle
        FROM base),
    hot AS (
        SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) >= 3),
    boiler AS (
        SELECT DISTINCT s.doc_id FROM sh s JOIN hot h USING (shingle)),
    bench_sh AS (
        SELECT DISTINCT unnest(list_transform(
                   generate_series(1, len(a) - 4),
                   i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' '
                        || a[i+3] || ' ' || a[i+4])) AS shingle
        FROM (SELECT string_split(text, ' ') AS a FROM documents
              WHERE doc_id % 97 = 0)),
    contam AS (
        SELECT DISTINCT s.doc_id FROM sh s
        JOIN bench_sh b ON b.shingle = s.shingle),
    staged AS (
        SELECT r.lang, r.source, r.f1, r.f2,
               r.f2 AND bo.doc_id IS NULL AS f3,
               r.f2 AND bo.doc_id IS NULL AND c.doc_id IS NULL AS f4
        FROM rep r
        LEFT JOIN boiler bo ON bo.doc_id = r.doc_id
        LEFT JOIN contam c ON c.doc_id = r.doc_id)
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_in,
           CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repetition,
           CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boilerplate,
           CAST(SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n_final
    FROM staged GROUP BY 1, 2
    """,
)
def ext_curation_pipeline_e2e(spark, sf_dir):
    """The composed curation pipeline, end to end in ONE plan: benchmark
    docs carved out -> quality gate (word count + integer mean word
    length, the gopher shape) -> repetition gate (distinct-3-gram ratio
    via per-doc ARRAYS, map-side, thresholded by cross-multiplication
    -- never a float ratio) -> boilerplate gate (drop docs containing
    any 5-gram shared by >= 3 training docs, the hot-passage filter of
    the dup-span device) -> 5-gram decontamination against the
    benchmark set. Output: the per-(lang, source) survival funnel after
    each gate -- the waterfall report every curation run publishes,
    proving the operators COMPOSE (each gate is an existing corpus
    entry's device; the pipeline is their conjunction, and every gate
    fires on this corpus -- pinned in tests, a gate that never drops
    certifies nothing).

    Scale: gates 1-2 are scan-fused per-row array math; the boilerplate
    df and decontamination are shingle-keyed joins (benchmark side
    broadcasts; the hot set is tiny by construction -- df >= 3 passages
    are the heavy tail); the funnel reduce is one partial-aggregated
    groupBy. One corpus read feeds everything."""
    from dbtwiz_spark.ops.ext_llm import shingles

    d = views(spark, sf_dir).table("documents")
    base = d.filter(F.col("doc_id") % 97 != 0)
    toks = F.split("text", " ")
    arr = F.col("a")
    idx = F.sequence(F.lit(1), F.size(arr) - 2)
    gen = F.when(F.size(arr) >= 3, idx).otherwise(
        F.array().cast("array<int>")
    )
    g3 = F.transform(
        gen,
        lambda i: F.concat_ws(
            " ", *[F.element_at(arr, i + j) for j in range(3)]
        ),
    )
    flags = base.select(
        "doc_id", "lang", "source", toks.alias("a"), "n_chars"
    ).select(
        "doc_id",
        "lang",
        "source",
        (
            (F.size(arr) >= 20)
            & (F.size(arr) <= 100000)
            & (F.expr("div(n_chars, size(a))").between(3, 12))
        ).alias("f1"),
        g3.alias("g3"),
    )
    rep = flags.select(
        "doc_id",
        "lang",
        "source",
        "f1",
        (
            F.col("f1")
            & (50 * F.size(F.array_distinct("g3")) >= 49 * F.size("g3"))
        ).alias("f2"),
    )
    sh = shingles(base, 5)
    hot = sh.groupBy("shingle").agg(F.count("*").alias("c")).filter(
        F.col("c") >= 3
    )
    boiler = (
        sh.join(hot.select("shingle"), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_boiler", F.lit(True))
    )
    bench_sh = shingles(d.filter(F.col("doc_id") % 97 == 0), 5).select(
        "shingle"
    ).distinct()
    contam = (
        sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    staged = (
        rep.join(boiler, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "lang",
            "source",
            "f1",
            "f2",
            (F.col("f2") & F.col("is_boiler").isNull()).alias("f3"),
            (
                F.col("f2")
                & F.col("is_boiler").isNull()
                & F.col("contaminated").isNull()
            ).alias("f4"),
        )
    )
    return staged.groupBy("lang", "source").agg(
        F.count("*").alias("n_in"),
        F.sum(F.col("f1").cast("long")).alias("n_quality"),
        F.sum(F.col("f2").cast("long")).alias("n_repetition"),
        F.sum(F.col("f3").cast("long")).alias("n_boilerplate"),
        F.sum(F.col("f4").cast("long")).alias("n_final"),
    )
