"""§2.11 [EXT] LLM-data-pipeline operators (BASELINE.json north_star).

Design rules for 100 TB:

- No cross joins on the scale axis. Near-dup candidate generation goes
  through LSH band buckets (MinHash) or bit-chunk buckets (SimHash); the
  brute-force cosine path is the *correctness baseline* and is explicitly
  bounded to a sampled query set.
- Everything is built from DataFrame primitives (explode / groupBy / join /
  window) so partial aggregation, AQE and spill handling apply unchanged.
- Cross-engine determinism: dot products and norms accumulate per-element
  double products quantized to DECIMAL(38,12) and summed exactly (order-free),
  then finish in IEEE-deterministic double ops — so even cosine similarities
  hash-match the DuckDB oracle.

Tokenization contract (shared by dedup/tfidf/fingerprint/lang-id): tokens =
split on single spaces (the synthetic corpus is space-joined words); the
BPE-ish regex tokenizer is its own entry (ext-token-count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from dbtwiz_spark.ops.common import (
    views, davg, davg_sql, hkey_sql, dsum_q8, dsum_q8_sql,
)
from dbtwiz_spark.ops.registry import register

# ---------------------------------------------------------------------------
# §A exact dedup + text analysis
# ---------------------------------------------------------------------------


@register(
    "ext-dedup-exact",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
           MIN(n_chars) AS n_chars
    FROM documents
    GROUP BY md5(lower(trim(text)))
    """,
)
def ext_dedup_exact(spark, sf_dir):
    """Exact dedup by normalized text hash: keep lowest doc_id per group.

    Hash-groupBy is one shuffle on the digest; at 100 TB the md5 keys are
    uniformly distributed so no skew. (dropDuplicates gives the same plan but
    nondeterministic survivor choice — min(doc_id) pins it.)
    """
    d = views(spark, sf_dir).table("documents")
    return (
        d.withColumn("h", F.md5(F.lower(F.trim(F.col("text")))))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_copies"),
            F.min("n_chars").alias("n_chars"),
        )
        .drop("h")
    )


@register(
    "ext-text-stats",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1, 2
    """,
)
def ext_text_stats(spark, sf_dir):
    """Corpus statistics: doc/token/char counts per (lang, source)."""
    d = views(spark, sf_dir).table("documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "ext-token-count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens
    FROM documents
    """,
)
def ext_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer
    (word / number / punctuation classes)."""
    d = views(spark, sf_dir).table("documents")
    return d.select(
        "doc_id",
        F.size(
            F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)")
        ).cast("long").alias("n_tokens"),
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
    )


@register(
    "ext-lang-id",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(string_split(text, ' '),
                    t -> list_contains(['the','a','of','and','to','in','is','on'], t)))
                    AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio
        FROM documents)
    SELECT doc_id, lang, stop_ratio,
           CASE WHEN stop_ratio > 0.08 THEN 'en' ELSE 'und' END AS predicted_lang
    FROM scored
    """,
)
def ext_lang_id(spark, sf_dir):
    """Language-ID heuristic: English-stopword hit ratio over whitespace
    tokens (n-gram/stopword heuristic; real model would be a pandas_udf —
    the Spark-side shape is identical)."""
    d = views(spark, sf_dir).table("documents")
    stops = F.array(*[F.lit(w) for w in ["the", "a", "of", "and", "to", "in", "is", "on"]])
    toks = F.split("text", " ")
    ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stops, t))).cast("double")
        / F.size(toks)
    )
    return d.select(
        "doc_id",
        "lang",
        ratio.alias("stop_ratio"),
        F.when(ratio > 0.08, "en").otherwise("und").alias("predicted_lang"),
    )


@register(
    "ext-quality-score",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS ttr,
           CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
             / length(text) AS alpha_ratio,
           0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                      / len(string_split(text, ' ')))
             + 0.2 * (CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                      / length(text)) AS quality
    FROM documents
    """,
)
def ext_quality_score(spark, sf_dir):
    """Quality scoring: length, type-token ratio, alphabetic ratio →
    weighted score (the C4/Gopher-style rule-based filter shape)."""
    d = views(spark, sf_dir).table("documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    alpha = (
        F.length(F.regexp_replace("text", "[^a-zA-Z ]", "")).cast("double")
        / F.length("text")
    )
    quality = (
        0.5 * F.least(n_tok / F.lit(100.0), F.lit(1.0)) + 0.3 * ttr + 0.2 * alpha
    )
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        ttr.alias("ttr"),
        alpha.alias("alpha_ratio"),
        quality.alias("quality"),
    )


@register(
    "ext-fingerprint",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    SELECT t.doc_id, t.fingerprint, r.rolling_hash
    FROM (SELECT doc_id,
                 md5(array_to_string(list_sort(list(DISTINCT tok)), ' ')) AS fingerprint
          FROM toks GROUP BY doc_id) t
    JOIN (SELECT doc_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(text, ' '),
                                    tk -> CAST(ascii(tk) * 1000 + len(tk) AS BIGINT))),
                     (acc, v) -> (acc * 131 + v) % 2147483647) AS rolling_hash
          FROM documents) r USING (doc_id)
    """,
)
def ext_fingerprint(spark, sf_dir):
    """Document fingerprinting, two flavors in one entry:

    - `fingerprint`: digest of the sorted distinct token set
      (order-insensitive content identity);
    - `rolling_hash`: Rabin–Karp polynomial rolling hash over the token
      stream (order-SENSITIVE; base 131 mod 2^31-1, token value from
      first-char code + length so both engines compute identical int64
      arithmetic with no overflow). Map-side only — higher-order fold, no
      shuffle, 100 TB-safe.
    """
    d = views(spark, sf_dir).table("documents")
    toks = F.split("text", " ")
    tok_vals = F.transform(
        toks, lambda t: (F.ascii(t) * 1000 + F.length(t)).cast("long")
    )
    rolling = F.aggregate(
        tok_vals,
        F.lit(0).cast("long"),
        lambda acc, v: F.pmod(acc * 131 + v, F.lit(2147483647)),
    )
    return d.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.sort_array(F.array_distinct(toks)))
        ).alias("fingerprint"),
        rolling.alias("rolling_hash"),
    )


@register(
    "ext-text-tfidf",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    WHERE df.df <= 0.5 * n.n_docs
    """,
)
def ext_text_tfidf(spark, sf_dir):
    """TF-IDF term weighting: token counts ⨝ document frequency (broadcast)
    with smoothed idf; terms in >50% of docs dropped. tfidf rounded to 6dp —
    ln() is the one op with possible last-ulp libm variance.

    Shape notes: ``df`` derives from ``tf`` (distinct (doc, term) rows), not
    from a second pass over the token stream — the term-level aggregate
    shuffles the small tf table, never the exploded tokens twice, and the
    shared tf exchange is reused across both consumers. The corpus size
    rides in as a broadcast 1-row aggregate (no eager ``count()`` action),
    so the whole operator is one lazy plan with a single full-stream
    shuffle."""
    d = views(spark, sf_dir).table("documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    ndf = d.agg(F.count("*").alias("n_docs"))
    df = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(ndf))
        .filter(F.col("df") <= 0.5 * F.col("n_docs"))
    )
    return tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf")
            * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
            6,
        ).alias("tfidf"),
    )


# ---------------------------------------------------------------------------
# §B near-duplicate detection (shingles → Jaccard / MinHash-LSH / SimHash)
# ---------------------------------------------------------------------------


def shingles(d: DataFrame, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per doc: (doc_id, shingle).

    Built with higher-order functions only (split → indexed transform →
    explode): zero shuffles before the final distinct, vs. the naive
    posexplode + per-doc window formulation which shuffles and sorts every
    token — the difference between map-side work and a token-level shuffle
    at 100 TB.
    """
    # project the token array once — referencing the split() expression
    # inside the lambda would re-split the text per element access
    toks = d.select("doc_id", F.split("text", " ").alias("arr"))
    arr = F.col("arr")
    idx = F.sequence(F.lit(1), F.size(arr) - (k - 1))
    gen = F.when(F.size(arr) >= k, idx).otherwise(F.array().cast("array<int>"))
    sh = F.transform(
        gen, lambda i: F.concat_ws(" ", *[F.element_at(arr, i + j) for j in range(k)])
    )
    return toks.select("doc_id", F.explode(sh).alias("shingle")).distinct()


SHINGLE_DF_CAP = 0.25  # drop shingles present in > this fraction of docs


def cap_shingle_df(sh: DataFrame, docs: DataFrame, cap: float = SHINGLE_DF_CAP) -> DataFrame:
    """Drop "hot" shingles (document frequency > cap × corpus size) before
    any shingle-keyed self-join.

    At 100 TB a stopword-ish shingle appearing in half the corpus turns the
    shared-shingle equi-join into a quadratic hot key; hot shingles also
    carry no discriminative signal for near-dup detection (every pair shares
    them). The hot set is tiny by construction (≤ 1/cap distinct values can
    exceed the threshold in aggregate terms), so the filter is a broadcast
    anti-join — no extra shuffle on the shingle stream."""
    total = docs.agg(F.count("*").alias("nd"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("df") > cap * F.col("nd"))
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


_NGRAM_JACCARD_SQL = """
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
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.4
"""


@register("ext-ngram-jaccard", oracle=_NGRAM_JACCARD_SQL)
def ext_ngram_jaccard(spark, sf_dir):
    """Exact n-gram (3-shingle) Jaccard similarity join: pairs ≥ 0.4, over
    the document-frequency-capped shingle set (see ``cap_shingle_df`` — the
    oracle applies the identical cap, so the entry stays hash-matched).

    Candidate pairs come from the shared-shingle join (one shuffle on the
    shingle key) — never a cross join; intersection counts per pair, union by
    inclusion–exclusion. This is also the ground truth the MinHash entry is
    tested against.
    """
    d = views(spark, sf_dir).table("documents")
    sh = cap_shingle_df(shingles(d, 3), d)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.4)
    )


NUM_PERM = 32
BANDS = 8  # 8 bands x 4 rows: catches jaccard >~0.5 candidates w.h.p.


def _minhash_columns() -> list[Column]:
    """The MinHash scheme, one aggregate per permutation: ``mh_i`` is the
    min over a doc's shingles of xxhash64 seeded with ``i``. The one
    definition behind the batch per-doc record (ext_dedup_near) and
    ``minhash_signatures`` (the streaming paths), so a retune moves
    both."""
    return [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh_{i}")
        for i in range(NUM_PERM)
    ]


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, mh_0..mh_{NUM_PERM-1}): min of seeded xxhash64 per
    permutation.

    One shuffle (groupBy doc_id); signature width is a constant column count,
    so cost is O(shingles × NUM_PERM) map-side work — the 100 TB-safe shape.
    """
    return sh.groupBy("doc_id").agg(*_minhash_columns())


def band_stack(per_doc: DataFrame) -> DataFrame:
    """(doc_id, band, sig): hash each band's minhash rows into one band
    signature and explode to the LSH bucket key. Shared by the batch
    near-dup path (ext_dedup_near) and the streaming signature store
    (streaming/jobs.band_signatures) so the banding scheme can never
    silently diverge between them."""
    rows_per_band = NUM_PERM // BANDS
    return per_doc.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"mh_{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("sig"),
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


@register("ext-dedup-near", oracle=None)
def ext_dedup_near(spark, sf_dir):
    """Near-dup via MinHash + LSH banding (shingle → minhash → band →
    bucket join) with exact-Jaccard verification of candidates.

    Scale path: candidates only from equal band signatures (equi-join on the
    band hash — no cross join); each candidate pair is then verified with
    the exact shingle-intersection Jaccard, so false positives cost but
    never corrupt. Engine-specific hashes make this rows-only for the
    oracle; tests/test_ext_llm.py checks recall against ext-ngram-jaccard.

    Verification: the band join carries ONLY doc ids (the explode is
    (doc_id, band, sig)); each candidate pair then joins both sides'
    capped shingle sets from the persisted per-doc artifact and
    intersects them locally (array_intersect) — no shingle-level join
    and no second pass over the corpus. Known at-scale limit: each
    doc's set is shuffled once per candidate pair touching it, so a hub
    document with many candidates ships its whole set with every one of
    them. Cheap while sets are small and fan-out is low (the bench
    corpus: tens of shingles/doc); see SCALING.md "Near-dedup"."""
    cat = views(spark, sf_dir)
    d = cat.table("documents")

    # One aggregation produces the whole per-doc record: minhash signature +
    # the shingle set itself. The signature table is doc-granular (bounded by
    # the corpus text size) and is persisted because three downstream plans
    # consume it — recomputing the shingle pipeline per consumer would triple
    # the dominant cost. Persist is MEMORY_AND_DISK: spills, never OOMs.
    # A catalog artifact: at scale a materialized table, so repeat calls in
    # a long-lived session reuse the SAME persisted DataFrame instead of
    # re-persisting an identical plan.
    def _build_per_doc():
        # the DF cap runs BEFORE MinHash so signatures, banding, and the
        # verification Jaccard all live in the same shingle universe as the
        # exact baseline (ext-ngram-jaccard) — without it a pair's capped
        # and uncapped Jaccard can straddle the thresholds and the recall
        # certificate (ext-dedup-near-recall) would count metric skew as a
        # recall miss. Hot shingles also carry no discriminative signal and
        # are exactly the band-bucket hot keys the LSH join must avoid.
        sh = cap_shingle_df(shingles(d, 3), d)
        return (
            sh.groupBy("doc_id")
            .agg(*_minhash_columns(), F.collect_set("shingle").alias("shset"))
            .persist()
        )

    per_doc = cat.artifact("lsh_per_doc_capped", _build_per_doc)
    # The band-signature table is ALSO an artifact: the candidate
    # self-join consumes it on BOTH sides, so un-persisted it re-ran the
    # band explode + xxhash twice per execution. Doc-granular (bands x
    # docs rows of three narrow columns), so the extra storage is bounded
    # like per_doc itself; at scale this is the materialized signature
    # store the streaming path (band_signatures) writes anyway.
    stacked = cat.artifact(
        "lsh_band_stack", lambda: band_stack(per_doc).persist()
    )
    a, b = stacked.alias("a"), stacked.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verification on the carried shingle sets — set intersection
    # is local to each joined pair (no shingle-level join, no second
    # pass over the corpus)
    sets_a = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sa"))
    sets_b = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    return (
        candidates.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.4)
    )


@register(
    "ext-dedup-near-recall",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, true AS recall_ok
    FROM ({_NGRAM_JACCARD_SQL}) j WHERE jaccard >= 0.7
    """,
)
def ext_dedup_near_recall(spark, sf_dir):
    """Recall certificate for the MinHash+LSH near-dup path: the banded
    candidate pipeline (ext-dedup-near) must recover all but
    max(1, 10%) of the exact n-gram-Jaccard >= 0.7 pairs — the bound the
    8-band x 4-row scheme guarantees w.h.p. (P[candidate] = 1-(1-j^4)^8 =
    0.998 at j=0.7). The slack-1 absolute term keeps the certificate
    meaningful when the true-pair set is small.

    This is the oracle-checked companion to rows-only ext-dedup-near
    (same device as ext-ann-lsh-recall: the oracle can't recompute seeded
    xxhash64 signatures, but it CAN count the exact high-similarity pairs
    and demand the quality bound hold). n_true_pairs is recomputed by
    DuckDB from scratch, so the row also hash-pins the exact-Jaccard side.
    Cost: both sides already exist (shared memoized signature artifact);
    the certificate adds one tiny pair-level equi-join."""
    exact = (
        ext_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b")
    )
    lsh = ext_dedup_near(spark, sf_dir).select("doc_a", "doc_b")
    hits = exact.join(lsh, ["doc_a", "doc_b"])
    return (
        exact.agg(F.count("*").alias("n_true_pairs"))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_true_pairs",
            (
                F.col("n_true_pairs") - F.col("n_hits")
                <= F.greatest(F.lit(1), F.floor(F.col("n_true_pairs") / 10))
            ).alias("recall_ok"),
        )
    )


@register("ext-dedup-simhash", oracle=None)
def ext_dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 64-bit signature from token hashes; candidate pairs
    share one of four 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk
    equal); verified by exact hamming distance ≤ 3.

    All bit math is JVM-side expressions; one groupBy(doc) + one equi-join
    on (chunk, value) — no cross join.
    """
    d = views(spark, sf_dir).table("documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = toks.withColumn("h", F.xxhash64("tok"))
    # per-bit SET counts (c_i), not ±1 sums: sum((h>>i)&1) generates half the
    # whole-stage code of sum(CASE ...) — the 64-wide aggregate's codegen
    # compile is this query's dominant one-shot cost. The ±1 sum b_i equals
    # 2*c_i - n, so the sign test b_i > 0 becomes 2*c_i > n (ties → 0 bit,
    # identical to before).
    sums = h.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"c_{i}")
            for i in range(64)
        ],
    )
    sim = sums.select(
        "doc_id",
        sum(
            [
                F.when(
                    2 * F.col(f"c_{i}") > F.col("n"),
                    F.lit(1).cast("long") * (2**i if i < 63 else -(2**63)),
                ).otherwise(0)
                for i in range(64)
            ]
        ).alias("simhash"),
    )
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select("doc_id", "simhash", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


@register(
    "ext-dedup-simhash-recall",
    oracle="""
    SELECT true AS found_pairs, true AS precision_ok
    """,
)
def ext_dedup_simhash_recall(spark, sf_dir):
    """Precision certificate for the SimHash path: every hamming<=3 pair it
    reports must be a genuine near-duplicate at the token level (1-gram
    Jaccard >= 0.5 — SimHash hashes the token multiset, so token Jaccard,
    not the 3-shingle metric, is its ground truth), and the fixture's
    planted duplicates must actually be found. Both claims are verified
    Spark-side and emitted as booleans the oracle states as literals —
    the signature bits themselves are engine-specific (seeded xxhash64),
    which is why ext-dedup-simhash is rows-only (same certificate device
    as ext-ann-lsh-recall / ext-dedup-near-recall).

    Cost: the pair set is tiny (post-verification near-dups); the token
    Jaccard check joins each pair to the two token sets — one collect_set
    aggregation over the corpus plus a pair-level join."""
    d = views(spark, sf_dir).table("documents")
    pairs = ext_dedup_simhash(spark, sf_dir).select("doc_a", "doc_b")
    tok = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ts")
    )
    ta = tok.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ta"))
    tb = tok.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter.cast("double") / (F.size("ta") + F.size("tb") - inter)
    judged = (
        pairs.join(ta, "doc_a").join(tb, "doc_b").select(jac.alias("jaccard"))
    )
    return judged.agg(
        (F.count("*") > 0).alias("found_pairs"),
        (F.min("jaccard") >= 0.5).alias("precision_ok"),
    )


# ---------------------------------------------------------------------------
# §C embedding similarity search
# ---------------------------------------------------------------------------

_DOT_DEC = "DECIMAL(38,12)"


def _norms_sql() -> str:
    return f"""
    norms AS (
        SELECT vec_id, label,
               sqrt(CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS {_DOT_DEC})) AS DOUBLE)) AS nrm
        FROM (SELECT vec_id, label, unnest(embedding) AS x FROM embeddings)
        GROUP BY vec_id, label)
    """


def _pair_cosine_sql(query_pred: str, cand_pred: str = "TRUE") -> str:
    """DuckDB CTE chain producing (q_vec_id, c_vec_id, c_label, cosine)."""
    return f"""
    WITH {_norms_sql()},
    q AS (SELECT e.vec_id, e.embedding, n.nrm FROM embeddings e
          JOIN norms n USING (vec_id) WHERE {query_pred}),
    c AS (SELECT e.vec_id, e.label, e.embedding, n.nrm FROM embeddings e
          JOIN norms n USING (vec_id) WHERE {cand_pred}),
    px AS (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id, c.label AS c_label,
               q.nrm AS qn, c.nrm AS cn,
               u.i AS i,
               CAST(CAST(q.embedding[u.i] AS DOUBLE) * CAST(c.embedding[u.i] AS DOUBLE)
                    AS {_DOT_DEC}) AS prod
        FROM q JOIN c ON q.vec_id <> c.vec_id
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) u),
    dots AS (
        SELECT q_vec_id, c_vec_id, c_label,
               CAST(SUM(prod) AS DOUBLE) / (MIN(qn) * MIN(cn)) AS cosine
        FROM px GROUP BY 1, 2, 3)
    """


@register(
    "ext-sim-cosine-topk",
    oracle=_pair_cosine_sql("e.vec_id % 50 = 0")
    + """
    SELECT q_vec_id, c_vec_id, cosine, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                     ORDER BY cosine DESC, c_vec_id) AS rnk
        FROM dots)
    WHERE rnk <= 10
    """,
)
def ext_sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: sampled query set (vec_id % 50 = 0) vs all
    candidates; top-10 per query.

    Exact baseline for ANN: per-element double products quantized to decimal
    and summed exactly (posexplode + groupBy) so cosine hash-matches DuckDB.
    The fast engine path (`cosine_topk`) uses zip_with/aggregate in one
    map-side pass and is what bench.py measures; the IVF-style scale path is
    `ext-ann-lsh-bucket`.
    """
    emb = views(spark, sf_dir).table("embeddings")
    return _cosine_pairs(spark, emb, F.col("vec_id") % 50 == 0).select(
        "q_vec_id",
        "c_vec_id",
        "cosine",
        F.row_number()
        .over(
            Window.partitionBy("q_vec_id").orderBy(
                F.col("cosine").desc(), F.col("c_vec_id")
            )
        )
        .alias("rnk"),
    ).filter(F.col("rnk") <= 10)


def _dec_dot(a, b):
    """Exact-decimal dot product of two array columns, map-side.

    Each element product is computed in double (IEEE-deterministic, same in
    DuckDB) then quantized to DECIMAL(38,12); accumulation is decimal and
    therefore exact and order-independent, so the value hash-matches the
    oracle's ``SUM(CAST(prod AS DECIMAL(38,12)))`` regardless of evaluation
    order. The fold quantizes to DECIMAL(28,12) — same 12-digit rounding as
    the oracle's (38,12) — and re-casts after each add to pin the accumulator
    type; at precision 28 the add result (29,12) stays under Spark's 38-digit
    cap, so no mid-fold scale loss (at (38,12) each add would round scale
    12→11 and drift ~1e-12 from the oracle)."""
    dec = "decimal(28,12)"
    zero = F.lit(0).cast(dec)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(dec)),
        zero,
        lambda acc, x: (acc + x).cast(dec),
    )


def _cosine_pairs(spark, emb: DataFrame, query_pred) -> DataFrame:
    """(q_vec_id, c_vec_id, c_label, cosine) with exact-decimal accumulation.

    Scale shape: the (sampled, small) query side is broadcast as whole
    vectors; the dot product and both norms are computed map-side with
    zip_with+aggregate — a single streaming pass over the candidate table
    with no explode and no shuffle before the consumer's own aggregation.
    (The previous formulation exploded both sides and joined on the 64-value
    dimension index — an all-pairs blowup funneled through 64 shuffle keys.)
    """
    nrm = F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding")).cast("double"))
    base = emb.select("vec_id", "label", "embedding", nrm.alias("nrm"))
    q = base.filter(query_pred).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("nrm").alias("qn"),
    )
    dot = _dec_dot(F.col("q_embedding"), F.col("embedding"))
    return base.join(F.broadcast(q), F.col("q_vec_id") != F.col("vec_id")).select(
        "q_vec_id",
        F.col("vec_id").alias("c_vec_id"),
        F.col("label").alias("c_label"),
        (dot.cast("double") / (F.col("qn") * F.col("nrm"))).alias("cosine"),
    )


def _dot_expr(a: str, b: str):
    """Map-side double dot product of two array columns by NAME —
    zip_with + aggregate as ONE parsed SQL string (round 17): the Column-
    lambda form costs ~5 py4j round trips per lambda per plan build, pure
    driver overhead on the hot scorer paths (cosine/LSH/IVF). Same
    operators, same double-zero seed, same IEEE result as the Column
    form (outputs verified bit-identical at two scales)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


def _norm_expr(col: str):
    """Euclidean norm of an array column by NAME, one parsed SQL string
    (see _dot_expr): sqrt of the self-product fold — the exact transform
    shape the previous Column-lambda forms used."""
    return F.expr(
        f"sqrt(aggregate(transform({col}, a -> CAST(a AS DOUBLE) * "
        f"CAST(a AS DOUBLE)), 0.0D, (acc, x) -> acc + x))"
    )


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Fast engine path: zip_with dot product in one JVM pass (no explode).

    queries: (q_vec_id, q_embedding). Broadcast the query set; the candidate
    table streams — at 100 TB this is a map-side-only scan plus a top-k
    aggregation (TakeOrdered per query key).

    Norms are computed ONCE PER ROW on each side before the pair join
    (round-16 optimization): the previous form re-folded both vectors'
    self-products per PAIR, tripling the dominant per-pair array work
    (Q x the candidate-norm fold, C x the query-norm fold). Same fold,
    same operands, same IEEE result — only the evaluation site moves.
    Round 17: the fold expressions are parsed SQL strings (_dot_expr /
    _norm_expr) instead of Column lambdas — plan identical, ~10 py4j
    round trips less per build.
    """
    dot = _dot_expr("q_embedding", "embedding")
    base = emb.select(
        "vec_id", "label", "embedding", _norm_expr("embedding").alias("nrm")
    )
    q = queries.select(
        "q_vec_id", "q_embedding", _norm_expr("q_embedding").alias("qn")
    )
    pairs = base.join(F.broadcast(q), F.col("q_vec_id") != F.col("vec_id")).select(
        "q_vec_id",
        F.col("vec_id").alias("c_vec_id"),
        "label",
        (dot / (F.col("qn") * F.col("nrm"))).alias("cosine"),
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.col("cosine").desc(), F.col("c_vec_id"))
    return pairs.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


@register(
    "ext-sim-threshold-join",
    oracle=_pair_cosine_sql("e.vec_id % 100 = 0", "e.vec_id % 10 = 0")
    + """
    SELECT q_vec_id, c_vec_id, cosine FROM dots WHERE cosine >= 0.2
    """,
)
def ext_sim_threshold_join(spark, sf_dir):
    """Similarity join: all pairs above a cosine threshold between a query
    sample (% 100) and a candidate sample (% 10). At scale the candidate
    pre-filter is the LSH bucketing of ext-ann-lsh-bucket."""
    emb = views(spark, sf_dir).table("embeddings")
    cand = emb.filter(F.col("vec_id") % 10 == 0)
    return (
        _cosine_pairs(spark, cand, F.col("vec_id") % 100 == 0)
        .filter(F.col("cosine") >= 0.2)
        .select("q_vec_id", "c_vec_id", "cosine")
    )


@register(
    "ext-dedup-embedding",
    oracle=_pair_cosine_sql("e.vec_id % 10 = 0", "e.vec_id % 10 = 0")
    + """
    SELECT vec_id, label FROM embeddings
    WHERE vec_id % 10 = 0 AND vec_id NOT IN (
        SELECT q_vec_id FROM dots
        WHERE c_vec_id < q_vec_id AND cosine >= 0.25)
    """,
)
def ext_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup removal (the semantic-dedup member of the
    dedup family: exact / MinHash-LSH / SimHash / n-gram-Jaccard / this):
    a vector is a duplicate if an earlier vector (smaller vec_id) is within
    cosine >= 0.25; keep only cluster heads.

    Scale path: the all-pairs step here runs on a bounded candidate set —
    at 100 TB candidates come from LSH buckets (ext-ann-lsh-bucket) or IVF
    cells, never a global cross join; the keep-earliest rule is the same
    anti-join regardless of candidate source.
    """
    emb = views(spark, sf_dir).table("embeddings")
    sub = emb.filter(F.col("vec_id") % 10 == 0)
    pairs = _cosine_pairs(spark, sub, F.lit(True))
    dups = (
        pairs.filter(
            (F.col("c_vec_id") < F.col("q_vec_id")) & (F.col("cosine") >= 0.25)
        )
        .select(F.col("q_vec_id").alias("vec_id"))
        .distinct()
    )
    return sub.select("vec_id", "label").join(dups, "vec_id", "left_anti")


@register(
    "ext-knn-label",
    oracle=_pair_cosine_sql("e.vec_id % 50 = 0")
    + """
    , topk AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                         ORDER BY cosine DESC, c_vec_id) AS rnk
            FROM dots) WHERE rnk <= 5),
    votes AS (
        SELECT q_vec_id, c_label, COUNT(*) AS votes FROM topk GROUP BY 1, 2)
    SELECT q_vec_id, c_label AS predicted_label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                     ORDER BY votes DESC, c_label) AS vr
        FROM votes) WHERE vr = 1
    """,
)
def ext_knn_label(spark, sf_dir):
    """kNN classification: majority label of the 5 nearest neighbors
    (ties → most votes, then smallest label)."""
    emb = views(spark, sf_dir).table("embeddings")
    pairs = _cosine_pairs(spark, emb, F.col("vec_id") % 50 == 0)
    w = Window.partitionBy("q_vec_id").orderBy(F.col("cosine").desc(), F.col("c_vec_id"))
    topk = pairs.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)
    votes = topk.groupBy("q_vec_id", "c_label").agg(F.count("*").alias("votes"))
    wv = Window.partitionBy("q_vec_id").orderBy(F.col("votes").desc(), F.col("c_label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("q_vec_id", F.col("c_label").alias("predicted_label"))
    )


def _lsh_bucket_expr(vec_col, table: int, n_planes: int):
    """Bucket id for one LSH table: ``n_planes`` sign bits of dot products
    with deterministic pseudo-random hyperplanes. Plane weight for (table t,
    plane p, dim i) = scaled xxhash64(t*101+p, i) in [-1, 1) — derived
    JVM-side, no RNG state, identical on every executor and across runs.

    Entirely map-side: transform-with-index + aggregate fold per plane, so
    the signature never explodes the vector — the posexplode + groupBy
    formulation pushes dim× the corpus through a shuffle, which at 100 TB
    turns a billion 64-dim vectors into a 64-billion-row exchange.

    Built as ONE parsed SQL string (round 17, the parallel_rank
    precedent): the previous per-plane Column-lambda construction cost
    ~5 py4j round trips per lambda × n_planes × n_tables per plan build
    — pure driver-side construction overhead. Identical expressions:
    int literals, the long→double cast before the divide, the
    double-zero seed and the int IF arms all match the Column forms
    operator for operator (outputs verified bit-identical at two
    scales)."""
    terms = []
    for p in range(n_planes):
        seed = table * 101 + p
        proj = (
            f"aggregate(transform({vec_col}, (x, i) -> CAST(x AS DOUBLE) * "
            f"(CAST(pmod(xxhash64({seed}, i), 2000001) - 1000000 AS DOUBLE)"
            f" / 1000000.0D)), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"IF({proj} > 0.0D, {2 ** p}, 0)")
    return F.expr(" + ".join(terms) if terms else "0")


def lsh_signatures(
    df: DataFrame, vec_col: str, n_planes: int = 8, n_tables: int = 1
) -> DataFrame:
    """Explode each row into ``n_tables`` (t, bucket) signature rows — the
    join key for bucketed candidate generation. The n_tables× map-side
    expansion is the standard LSH recall lever (a pair is a candidate if it
    collides in ANY table); no shuffle happens here."""
    tb = F.array(
        *[
            F.struct(F.lit(t).alias("t"), _lsh_bucket_expr(vec_col, t, n_planes).alias("bucket"))
            for t in range(n_tables)
        ]
    )
    return df.withColumn("_tb", F.explode(tb)).select(
        *df.columns, F.col("_tb.t").alias("t"), F.col("_tb.bucket").alias("bucket")
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 3,
    n_tables: int = 8,
) -> DataFrame:
    """ANN top-k via multi-table sign-LSH: candidates = corpus rows sharing
    any (table, bucket) with a query, scored exactly, top-k per query.

    queries: (q_vec_id, q_embedding), assumed small → its signatures are
    broadcast; the corpus streams map-side through signature computation
    into the bucket equi-join — never an all-pairs product. Candidate pairs
    found in several tables are deduped on the (q, c) key (rows are
    identical, so the dedup is deterministic).

    Tuning is corpus-dependent: recall per table for a pair at angle θ is
    (1-θ/π)^n_planes, so weakly-similar neighbors (this synthetic corpus:
    top-10 cosine ≈ 0.3) need few planes / many tables for high recall at
    the cost of candidate-set selectivity, while true near-duplicate
    corpora (cosine ≥ 0.9) support 8-16 planes with tiny candidate sets.

    Norms are computed ONCE PER ROW on each side BEFORE the signature
    explode and bucket join (round 17 — the cosine_topk/ivf_topk fix
    applied to the last remaining per-pair scorer): the previous form
    re-folded both vectors' self-products per CANDIDATE PAIR, tripling
    the per-pair array work. Same fold, same operands, same IEEE doubles
    — only the evaluation site moves, so recall is unchanged by
    construction (certificate re-verified).
    """
    cs = lsh_signatures(
        emb.withColumn("nrm", _norm_expr("embedding")),
        "embedding",
        n_planes,
        n_tables,
    )
    qs = lsh_signatures(
        queries.withColumn("qn", _norm_expr("q_embedding")),
        "q_embedding",
        n_planes,
        n_tables,
    )
    cand = (
        cs.join(F.broadcast(qs), on=["t", "bucket"])
        .filter(F.col("q_vec_id") != F.col("vec_id"))
        .dropDuplicates(["q_vec_id", "vec_id"])
    )
    pairs = cand.select(
        "q_vec_id",
        F.col("vec_id").alias("c_vec_id"),
        (_dot_expr("q_embedding", "embedding") / (F.col("qn") * F.col("nrm")))
        .alias("cosine"),
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.col("cosine").desc(), F.col("c_vec_id"))
    return pairs.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


@register("ext-ann-lsh-bucket", oracle=None)
def ext_ann_lsh_bucket(spark, sf_dir):
    """ANN scale path: random-hyperplane LSH bucketing.

    Signature = sign bits of dot products with 8 deterministic pseudo-random
    hyperplanes (see _lsh_bucket_expr) — computed map-side per row, no
    explode, no shuffle before the histogram's own tiny aggregation.
    Neighbor candidates share a bucket → the O(n²) similarity join becomes
    an equi-join on the bucket key (the full ANN path is `lsh_topk`).
    Output: (bucket, n_vectors, n_labels) histogram. Rows-only check; tests
    assert bucket-partition completeness AND `lsh_topk` recall vs the exact
    top-k on sf0.001.
    """
    emb = views(spark, sf_dir).table("embeddings")
    sig = emb.select(
        "vec_id", "label", _lsh_bucket_expr("embedding", 0, 8).alias("bucket")
    )
    return sig.groupBy("bucket").agg(
        F.count("*").alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
    )


def _centroid_scores_sql(vec_col: str, cents_col: str) -> str:
    """SQL text of the per-row array of (score, neg_cell) structs vs every
    centroid — entirely map-side (nested higher-order functions, no
    explode). Centroids arrive unit-normalized (`_centroids_as_array`), so
    score is a plain dot.

    neg_cell makes struct ordering encode the tie-break: max/descending on
    the struct means highest score first, then smallest cell. A string, so
    the assignment and the probe selector each parse ONE expression (the
    nested two-level Column lambdas were the most py4j-expensive
    expression in the ANN family)."""
    return (
        f"transform({cents_col}, c -> named_struct("
        f"'score', aggregate(zip_with({vec_col}, c.centroid, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x), "
        f"'neg_cell', -c.cell))"
    )


def _centroids_as_array(centroids: DataFrame) -> DataFrame:
    """Collapse the K-row centroid table into ONE row holding an array of
    (cell, unit_centroid) structs, sorted by cell — broadcast-crossJoined
    onto the corpus so argmax/argtop-nprobe run as per-row array expressions
    with zero shuffle (the previous formulation exploded K× the corpus
    through a row_number window). Centroids are normalized here, once for K
    rows, instead of per corpus row in the scorer."""
    with_norm = centroids.select(
        "cell",
        "centroid",
        _norm_expr("centroid").alias("nrm"),
    )
    unit = with_norm.select(
        "cell",
        F.transform("centroid", lambda v: v.cast("double") / F.col("nrm")).alias(
            "centroid"
        ),
    )
    return unit.agg(
        F.array_sort(F.collect_list(F.struct("cell", "centroid"))).alias("cents")
    )


def ivf_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (vector norm is
    constant per vec so dot/centroid-norm decides the argmax). The K
    centroids ride along as one broadcast array row: the assignment is a
    map-side argmax (array_max over (score, neg_cell) structs) — no window,
    no shuffle, no K× row blowup."""
    best = F.expr(f"array_max({_centroid_scores_sql('embedding', 'cents')})")
    return (
        emb.crossJoin(F.broadcast(_centroids_as_array(centroids)))
        .withColumn("best", best)
        .select(
            (-F.col("best.neg_cell")).alias("cell"),
            "vec_id",
            "label",
            "embedding",
            # candidate norm computed once here, carried in the index so the
            # search never recomputes it per (query, candidate) pair
            _norm_expr("embedding").alias("nrm"),
        )
    )


def ivf_index(emb: DataFrame, n_cells: int = 16, lloyd_iters: int = 1):
    """IVF coarse quantizer: deterministic seeds (the K smallest vec_ids)
    refined by Lloyd iterations, all as DataFrame ops.

    Returns (assignments, centroids, cents_row) — the assignments carry a
    precomputed candidate norm, and cents_row is the ONE-ROW collapsed
    centroid array the probe selectors consume (round 16). The Lloyd
    recompute is a groupBy(cell, dim) mean — one shuffle per iteration
    bounded by K × dims rows out. Callers that serve many queries from
    one index memoize the 3-tuple with ``Catalog.artifact``."""
    # seed numbering is window-free: collect the K seed ids into one sorted
    # array and number each seed by its array position (a global-order window
    # here would run single-partition and trip the WindowExec warning; K rows
    # make the array trivially small)
    seeds = emb.orderBy("vec_id").limit(n_cells).select("vec_id", "embedding")
    seed_ids = seeds.agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
    centroids = seeds.crossJoin(F.broadcast(seed_ids)).select(
        F.array_position(F.col("ids"), F.col("vec_id")).cast("int").alias("cell"),
        F.col("embedding").alias("centroid"),
    )
    for _ in range(lloyd_iters):
        assigned = ivf_assign(emb, centroids)
        ex = assigned.select("cell", F.posexplode("embedding").alias("i", "x"))
        centroids = (
            ex.groupBy("cell", "i")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
        )
    # The index is a built artifact shared by every query against it (at
    # scale: materialized partitioned-by-cell parquet). Persist all three
    # pieces — assignments, centroid table, and the ONE-ROW collapsed
    # centroid array the probe selector consumes (round-16: previously
    # rebuilt per search from the centroid table, one extra tiny
    # aggregation job per query); identical rebuild plans hit the same
    # cache entry.
    centroids = centroids.persist()
    cents_row = _centroids_as_array(centroids).persist()
    return (ivf_assign(emb, centroids).persist(), centroids, cents_row)


def _ivf_probe(queries: DataFrame, cents_row: DataFrame, nprobe: int) -> DataFrame:
    """One row per (query, probed cell), carrying the query's norm. Probe
    selection is map-side: sort the per-query (score, neg_cell) array
    descending (ascending sort + reverse ⇒ score desc, cell asc on ties)
    and slice the first nprobe cells — no window, no shuffle. The query
    norm is computed once per query row, not per (query, candidate) pair;
    candidate norms come precomputed from the index (nrm)."""
    probe_cells = F.expr(
        f"transform(slice(reverse(array_sort("
        f"{_centroid_scores_sql('q_embedding', 'cents')})), 1, {nprobe}), "
        f"s -> -s.neg_cell)"
    )
    return queries.crossJoin(F.broadcast(cents_row)).select(
        "q_vec_id",
        "q_embedding",
        _norm_expr("q_embedding").alias("qn"),
        F.explode(probe_cells).alias("cell"),
    )


def _ivf_score_topk(probed: DataFrame, index: DataFrame, k: int) -> DataFrame:
    """Exact cosine of every query against its probed cells' members, and
    each query's top k. The (sampled, small) probed query set is broadcast:
    the cell join is a broadcast hash join against the index, and the
    16-value cell key never becomes a shuffle key."""
    cosine = _dot_expr("q_embedding", "embedding") / (F.col("qn") * F.col("nrm"))
    pairs = (
        F.broadcast(probed).join(index, "cell")
        .filter(F.col("q_vec_id") != F.col("vec_id"))
        .select("q_vec_id", F.col("vec_id").alias("c_vec_id"), cosine.alias("cosine"))
    )
    wk = Window.partitionBy("q_vec_id").orderBy(F.col("cosine").desc(), F.col("c_vec_id"))
    return pairs.withColumn("rnk", F.row_number().over(wk)).filter(F.col("rnk") <= k)


def ivf_topk(
    ivf: tuple, queries: DataFrame, k: int = 10, nprobe: int = 4
) -> DataFrame:
    """IVF search over an ``ivf_index`` 3-tuple: probe the ``nprobe``
    nearest cells per query, exact cosine only against those cells'
    members. At 100 TB the index is built once and persisted partitioned
    by cell; a query touches nprobe/n_cells of the corpus instead of all
    of it."""
    index, _centroids, cents_row = ivf
    return _ivf_score_topk(_ivf_probe(queries, cents_row, nprobe), index, k)


def ivf_index_write(wh, name: str, emb: DataFrame, n_cells: int = 16) -> None:
    """Materialize the IVF index into a warehouse: assignments written as a
    parquet table PARTITIONED BY cell (so a probe reads only its cells via
    partition pruning) plus a ``<name>__centroids`` side table.

    This is the claimed 100 TB deployment of the in-memory index: built once
    by a batch job, served to every query; rebuilds go through the standard
    write-audit-publish path. The build-time persisted DataFrames are
    unpersisted once written — the parquet table IS the artifact, so a
    service rebuilding the index must not leak one cached RDD pair per
    publish."""
    index, centroids, cents_row = ivf_index(emb, n_cells)
    try:
        wh.write_table(name, index, partition_by="cell", snapshot=False)
        wh.write_table(f"{name}__centroids", centroids, snapshot=False)
    finally:
        index.unpersist()
        centroids.unpersist()
        cents_row.unpersist()


def ivf_topk_from_table(
    wh, name: str, queries: DataFrame, k: int = 10, nprobe: int = 4
) -> DataFrame:
    """IVF search against a materialized index table: probe selection is the
    same map-side array expression; the candidate read joins the
    cell-partitioned table on its partition key against the (broadcast)
    probed-cell set, which triggers Spark's dynamic partition pruning — only
    probed cells' files are scanned, no driver-side collect needed
    (asserted in tests/test_plans.py)."""
    cents_row = _centroids_as_array(wh.read(f"{name}__centroids"))
    probed = _ivf_probe(queries, cents_row, nprobe)
    # partition filter: only probed cells are scanned. The IN-list predicate
    # is pushed to the partitioned scan (asserted in tests/test_plans.py).
    distinct_cells = probed.select("cell").distinct()
    pruned = wh.read(name).join(F.broadcast(distinct_cells), "cell", "left_semi")
    return _ivf_score_topk(probed, pruned, k)


@register("ext-ann-ivf", oracle=None)
def ext_ann_ivf(spark, sf_dir):
    """ANN scale path #2: IVF (inverted-file) index — k-means coarse
    quantizer (deterministic seeds + Lloyd refinement), nprobe-cell search.
    Complements ext-ann-lsh-bucket; tests assert recall against the exact
    brute-force top-k. Rows-only: centroids are engine-specific."""
    cat = views(spark, sf_dir)
    emb = cat.table("embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    ivf = cat.artifact("ivf16", lambda: ivf_index(emb, 16))
    return ivf_topk(ivf, queries, k=10, nprobe=4)


def _exact_topk(spark, emb, query_pred, k: int = 10):
    """Exact brute-force cosine top-k baseline for recall certification."""
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cosine").desc(), F.col("c_vec_id")
    )
    return (
        _cosine_pairs(spark, emb, query_pred)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_vec_id", "c_vec_id")
    )


def _recall_entry(spark, sf_dir, approx_pairs, floor: float):
    """One-row recall certificate: approx top-10 vs the exact baseline over
    the vec_id % 50 == 0 query sample. Output (n_queries, recall_ok) — the
    boolean encodes 'aggregate recall >= floor', which the DuckDB oracle
    states as a literal, turning a rows-only ANN check into a hard
    hash-compared driver row (same trick as agg-approx-count-distinct's
    error-bound boolean)."""
    emb = views(spark, sf_dir).table("embeddings")
    exact = _exact_topk(spark, emb, F.col("vec_id") % 50 == 0)
    hits = exact.join(approx_pairs, ["q_vec_id", "c_vec_id"])
    return exact.agg(
        F.countDistinct("q_vec_id").alias("n_queries"),
    ).crossJoin(
        hits.agg(F.count("*").alias("n_hits"))
    ).crossJoin(
        exact.agg(F.count("*").alias("n_exact"))
    ).select(
        "n_queries",
        (F.col("n_hits").cast("double") / F.col("n_exact") >= floor).alias(
            "recall_ok"
        ),
    )


_RECALL_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ok
    FROM embeddings WHERE vec_id % 50 = 0
"""


@register("ext-ann-lsh-recall", oracle=_RECALL_ORACLE)
def ext_ann_lsh_recall(spark, sf_dir):
    """Recall certificate for the LSH ANN path: multi-table sign-LSH top-10
    (planes=3, tables=8) must recover >= 70% of the exact brute-force
    top-10 over the deterministic query sample. Measured recall on the
    synthetic corpus is 0.79-0.89 across sf0.001/0.01/0.1; the floor holds
    0.09 of margin.

    This is the oracle-checked companion to ext-ann-lsh-bucket (whose
    bucket histogram is engine-specific, hence rows-only): the oracle
    can't recompute hyperplane signatures, but it CAN demand the quality
    bound hold — the same bound a production ANN service monitors. Both
    approx and exact sides are broadcast-query map-side scans; the recall
    join adds one tiny (queries x k) equi-join."""
    emb = views(spark, sf_dir).table("embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    approx = lsh_topk(emb, q, k=10, n_planes=3, n_tables=8).select(
        "q_vec_id", "c_vec_id"
    )
    return _recall_entry(spark, sf_dir, approx, floor=0.70)


@register("ext-ann-ivf-recall", oracle=_RECALL_ORACLE)
def ext_ann_ivf_recall(spark, sf_dir):
    """Recall certificate for the IVF ANN path: nprobe=4 of 16 cells must
    recover >= 40% of the exact top-10 (measured 0.52-0.65 across sfs —
    probing a quarter of the cells finds half the true neighbors on this
    weakly-clustered synthetic corpus; real embedding corpora cluster
    far more sharply). Same certificate shape as ext-ann-lsh-recall."""
    cat = views(spark, sf_dir)
    emb = cat.table("embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    ivf = cat.artifact("ivf16", lambda: ivf_index(emb, 16))
    approx = ivf_topk(ivf, q, k=10, nprobe=4).select("q_vec_id", "c_vec_id")
    return _recall_entry(spark, sf_dir, approx, floor=0.40)


# ---------------------------------------------------------------------------
# §D multimodal columns
# ---------------------------------------------------------------------------


@register(
    "ext-multimodal-column",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS payload_bytes,
           ascii(substr(text, 1, 1)) AS first_byte,
           CAST(NULL AS INTEGER) AS width,
           CAST(NULL AS INTEGER) AS height,
           CAST(NULL AS BIGINT) AS duration_ms
    FROM documents
    """,
)
def ext_multimodal_column(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload column processed by an
    Arrow-batched mapInPandas feature extractor.

    The payload here is the utf-8 encoding of `text`; the *Spark-side
    shape* is the real thing: BinaryType column, mapInPandas over Arrow
    batches, typed output schema. Features (byte length, first byte) are
    deterministic so the entry stays oracle-checkable; width/height carry
    REAL decoded geometry for the full image/container dispatch —
    BMP/PPM/PNG/GIF/JPEG header-only parses plus MP4 tkhd demux — and
    duration_ms the header-derived WAV/MP4 media duration (round 13;
    all pinned by the multimodal unit tests). Both are NULL for these
    text payloads, which the oracle mirrors.
    """
    from dbtwiz_spark.multimodal import extract_features

    d = views(spark, sf_dir).table("documents")
    payloads = d.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return extract_features(payloads)


@register(
    "ext-multimodal-framesample",
    oracle="""
    SELECT doc_id, (k - 1) * 100 AS offset_ms,
           octet_length(encode(text)) AS payload_bytes
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(1,
                   least(8, greatest(1, octet_length(encode(text)) // 100)))) AS k
        FROM documents)
    """,
)
def ext_multimodal_framesample(spark, sf_dir):
    """Frame sampling over binary media payloads: one row per sampled offset
    via Arrow-batched mapInPandas (dbtwiz_spark.multimodal.frame_sample).

    For PCM WAV payloads the demux is REAL (stdlib ``wave``: offsets step
    the header-derived duration, sizes are true PCM slice byte math —
    pinned by test_frame_sample_real_wav). These documents payloads are
    utf-8 text, so they take the deterministic size-based fake branch
    (the container has no video codecs) — same output schema, and the
    oracle reproduces that branch's offset arithmetic in SQL. The
    pipeline shape is the production one either way: binary column in,
    exploded typed rows out, partition-preserving, vectorized batches."""
    from dbtwiz_spark.multimodal import frame_sample

    d = views(spark, sf_dir).table("documents")
    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return frame_sample(payloads, every_ms=100)


_CONTAINMENT_SQL = """
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
        SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
    SELECT src, dst, CAST(inter AS DOUBLE) / s.n AS containment
    FROM pairs JOIN sizes s ON s.doc_id = src
    WHERE CAST(inter AS DOUBLE) / s.n >= 0.6
"""


@register("ext-dedup-containment", oracle=_CONTAINMENT_SQL)
def ext_dedup_containment(spark, sf_dir):
    """Asymmetric n-gram containment join: pairs where ≥ 60% of the
    SOURCE document's 3-shingles also occur in the destination —
    detecting a document EMBEDDED in a larger one (quote farms,
    boilerplate wrappers, page-plus-chrome crawls), which symmetric
    Jaccard misses because the union in its denominator dilutes a small
    doc contained in a big one.

    Same linear scale shape as ext-ngram-jaccard (shared-shingle
    equi-join over the DF-capped universe, one shuffle on the shingle
    key, per-pair count, no cross join); only the denominator changes —
    |grams(src)| instead of the union — and the join keeps BOTH
    directions (a != b, not a < b) because containment is directional."""
    d = views(spark, sf_dir).table("documents")
    sh = cap_shingle_df(shingles(d, 3), d)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .agg(F.count("*").alias("inter"))
    )
    s = sizes.select(F.col("doc_id").alias("src"), F.col("n").alias("n_src"))
    containment = F.col("inter").cast("double") / F.col("n_src")
    return (
        pairs.join(s, "src")
        .select("src", "dst", containment.alias("containment"))
        .filter(F.col("containment") >= 0.6)
    )


@register(
    "ext-embed-quantize",
    oracle="""
    WITH q AS (
        SELECT vec_id, embedding,
               GREATEST(list_max(list_transform(embedding,
                   x -> ABS(CAST(x AS DOUBLE)))), 1e-12) / 127 AS scale
        FROM embeddings),
    err AS (
        SELECT vec_id, scale,
               list_transform(embedding, x ->
                   CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))
                   AS codes
        FROM q),
    stats AS (
        SELECT vec_id, scale, len(codes) AS n_dims,
               list_max(list_transform(codes, c -> ABS(c))) AS max_code
        FROM err)
    SELECT vec_id, round(scale, 9) AS scale,
           CAST(n_dims AS BIGINT) AS n_dims,
           CAST(max_code AS BIGINT) AS max_code,
           CAST(max_code <= 127 AS BOOLEAN) AS fits_int8
    FROM stats
    """,
)
def ext_embed_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column — the vector
    compression step before a large corpus's embeddings go to an ANN
    index or a training shard (4× smaller than float32, 8× than the
    float64 these fixtures carry). Per-vector scale = max|x|/127;
    codes = floor(x/scale + 0.5) — floor(+0.5) rather than round(),
    because HALF_UP vs banker's rounding differs between engines on
    exact .5 ties while floor(+0.5) is bit-identical. The output proves
    every code fits int8 (max_code ≤ 127: |x|/scale ≤ 127 by
    construction, and floor(127 + 0.5) = 127 exactly).

    Scale shape: pure map-side array lambdas inside the row — zero
    shuffles, zero UDFs; at 100 TB this runs entirely inside the scan
    stage. The epsilon floor on scale keeps all-zero vectors finite."""
    emb = views(spark, sf_dir).table("embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    scale = (
        F.greatest(
            F.array_max(F.transform("embedding", lambda x: F.abs(xd(x)))),
            F.lit(1e-12),
        )
        / 127
    )
    e = emb.select("vec_id", "embedding", scale.alias("scale"))
    codes = F.transform(
        "embedding", lambda x: F.floor(xd(x) / F.col("scale") + 0.5).cast("long")
    )
    s = e.select(
        "vec_id",
        "scale",
        F.size("embedding").cast("long").alias("n_dims"),
        F.array_max(F.transform(codes, lambda c: F.abs(c))).alias("max_code"),
    )
    return s.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        "n_dims",
        F.col("max_code").cast("long").alias("max_code"),
        (F.col("max_code") <= 127).alias("fits_int8"),
    )


@register(
    "ext-hard-negatives",
    oracle=_pair_cosine_sql("e.vec_id % 50 = 0")
    + """
    SELECT q_vec_id, q_label, c_vec_id, c_label, cosine, rnk FROM (
        SELECT dd.q_vec_id, ql.label AS q_label, dd.c_vec_id, dd.c_label,
               dd.cosine,
               ROW_NUMBER() OVER (PARTITION BY dd.q_vec_id
                                  ORDER BY dd.cosine DESC, dd.c_vec_id) AS rnk
        FROM dots dd JOIN embeddings ql ON dd.q_vec_id = ql.vec_id
        WHERE dd.c_label <> ql.label)
    WHERE rnk <= 5
    """,
)
def ext_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: per query vector,
    the 5 most-similar candidates carrying a DIFFERENT label — the
    examples that teach an embedding model the most (easy negatives are
    already far; hard negatives sit just across the boundary). Reuses
    the exact-decimal cosine machinery of ext-sim-cosine-topk with a
    label-mismatch filter BEFORE the per-query top-k window, so a
    query's negatives are ranked among negatives only.

    Scale: identical to the cosine top-k shape — broadcast sampled query
    side (with labels), one map-side streaming pass over candidates,
    per-query windowed top-k; the LSH/IVF bucketed variants drop in as
    candidate generators unchanged."""
    emb = views(spark, sf_dir).table("embeddings")
    pairs = _cosine_pairs(spark, emb, F.col("vec_id") % 50 == 0)
    # label map restricted to the QUERY SAMPLE before broadcast — the
    # unfiltered table is 50x the needed rows and breaks the documented
    # broadcast-the-sampled-side scale contract
    qlab = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_vec_id"), F.col("label").alias("q_label")
    )
    return (
        pairs.join(F.broadcast(qlab), "q_vec_id")
        .filter(F.col("c_label") != F.col("q_label"))
        .select(
            "q_vec_id",
            "q_label",
            "c_vec_id",
            "c_label",
            "cosine",
            F.row_number()
            .over(
                Window.partitionBy("q_vec_id").orderBy(
                    F.col("cosine").desc(), F.col("c_vec_id")
                )
            )
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= 5)
    )


@register(
    "ext-embed-normalize",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, dim - 1 AS dim, CAST(embedding[dim] AS DOUBLE) AS v
        FROM embeddings CROSS JOIN generate_series(1, 64) AS t(dim)),
    agg AS (
        SELECT dim,
               {davg_sql('v')} AS mean_v,
               {davg_sql('v * v')} AS mean_sq
        FROM ex GROUP BY 1)
    SELECT e.vec_id, e.dim, e.v,
           CASE WHEN a.mean_sq - a.mean_v * a.mean_v > 0
                THEN (e.v - a.mean_v)
                     / sqrt(a.mean_sq - a.mean_v * a.mean_v)
                ELSE NULL END AS z
    FROM ex e JOIN agg a ON e.dim = a.dim
    WHERE e.vec_id % 100 = 0
    """,
)
def ext_embed_normalize(spark, sf_dir):
    """Per-dimension embedding whitening: z = (x - mean) / std using the
    corpus statistics — the preprocessing that stops high-variance
    dimensions from dominating cosine/L2 geometry before ANN indexing or
    linear probes. Statistics come from the ext-embed-stats DECIMAL
    path (exact, order-independent); x is float32 (exactly widened to
    double), so the normalized value is a chain of IEEE ops on
    bit-identical operands and ships UNROUNDED. Output sampled to
    vec_id % 100 = 0 to keep the checked surface bounded; the full
    transform is the same map-side expression.

    Scale: the stats aggregation is the O(partitions x dims) wordcount
    shape; application is a broadcast join of the 64-row stats table
    back into a map-side transform — no second corpus shuffle."""
    e = views(spark, sf_dir).table("embeddings")
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "vf")
    ).select("vec_id", "dim", F.col("vf").cast("double").alias("v"))
    agg = ex.groupBy("dim").agg(
        davg("v", "mean_v"),
        davg(F.col("v") * F.col("v"), "mean_sq"),
    )
    # degenerate (near-constant) dimension -> NULL on BOTH engines, the
    # win-rolling-corr guard pattern: decimal-rounded mean_sq can land
    # below mean_v^2, where bare sqrt NaNs in Spark but hard-errors the
    # DuckDB oracle, and a zero-clamped std then divides by zero — which
    # THROWS under Spark 4 ANSI mode while DuckDB yields NULL
    var = F.col("mean_sq") - F.col("mean_v") * F.col("mean_v")
    return (
        ex.filter(F.col("vec_id") % 100 == 0)
        .join(F.broadcast(agg), "dim")
        .select(
            "vec_id",
            "dim",
            "v",
            F.when(var > 0, (F.col("v") - F.col("mean_v")) / F.sqrt(var))
            .otherwise(F.lit(None).cast("double"))
            .alias("z"),
        )
    )


@register(
    "ext-dedup-softdedup",
    oracle="""
    SELECT doc_id,
           CAST(COUNT(*) OVER (PARTITION BY text) AS BIGINT) AS cluster_size,
           CAST(1 AS DOUBLE)
               / CAST(COUNT(*) OVER (PARTITION BY text) AS DOUBLE) AS weight
    FROM documents
    """,
)
def ext_dedup_softdedup(spark, sf_dir):
    """Soft deduplication: instead of DROPPING exact duplicates
    (ext-dedup-exact), keep every copy but downweight it by its duplicate
    cluster size (weight = 1/n) so the training sampler sees each unique
    text with total mass 1 -- the SoftDedup/UniMax-style alternative that
    preserves natural duplication signal without over-training on it.

    Scale: ONE hash-partitioned window on the text key (the same shuffle
    an exact-dedup groupBy pays; at extreme scale the partition key drops
    to xxhash64(text) to shuffle 8-byte keys instead of full documents --
    same clusters, collision odds ~2^-64)."""
    d = views(spark, sf_dir).table("documents")
    w = Window.partitionBy("text")
    n = F.count("*").over(w)
    return d.select(
        "doc_id",
        n.cast("bigint").alias("cluster_size"),
        (F.lit(1.0) / n.cast("double")).alias("weight"),
    )


@register(
    "ext-contrastive-pairs",
    oracle=f"""
    WITH ng AS (SELECT * FROM ({_NGRAM_JACCARD_SQL})),
    hr AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY {{hk}}, doc_id) AS r,
               COUNT(*) OVER () AS n
        FROM documents)
    SELECT ng.doc_a AS anchor_id, ng.doc_b AS pos_id,
           h2.doc_id AS neg_id, ng.jaccard
    FROM ng
    JOIN hr h1 ON h1.doc_id = ng.doc_a
    JOIN hr h2 ON h2.r = (h1.r % h1.n) + 1
    WHERE h2.doc_id <> ng.doc_a AND h2.doc_id <> ng.doc_b
    """.format(hk=hkey_sql("doc_id")),
)
def ext_contrastive_pairs(spark, sf_dir):
    """(anchor, positive, negative) triplet mining for contrastive
    training: positives are the exact 3-shingle Jaccard >= 0.4 pairs
    (the ext-ngram-jaccard join, shared code path), negatives are drawn
    deterministically as the anchor's SUCCESSOR in the Knuth-hash
    ordering of all doc ids (wrap-around at the end) -- a replayable
    stand-in for a uniform random negative, with the rare successor that
    collides with the anchor or positive dropped rather than re-rolled
    (the oracle applies the identical rule).

    Scale: positives ride the shingle equi-join (no cross join); the
    hash ordering comes from ``common.parallel_rank`` (range partition +
    driver-side partition offsets, no global window); the successor
    lookup is an equi-join on rank."""
    from dbtwiz_spark.ops.common import hkey, parallel_rank

    cat = views(spark, sf_dir)
    d = cat.table("documents")
    pos = ext_ngram_jaccard(spark, sf_dir)
    ranked = cat.artifact(
        "ext-contrastive-pairs:hkey(doc_id),doc_id",
        lambda: parallel_rank(
            d.select("doc_id"), [hkey(F.col("doc_id")), F.col("doc_id")]
        ),
    ).select("doc_id", "_rank", "_n")
    h1 = ranked.select(
        F.col("doc_id").alias("doc_a"),
        ((F.col("_rank") % F.col("_n")) + 1).alias("succ_rank"),
    )
    h2 = ranked.select(
        F.col("_rank").alias("succ_rank"), F.col("doc_id").alias("neg_id")
    )
    return (
        pos.join(h1, "doc_a")
        .join(h2, "succ_rank")
        .filter(
            (F.col("neg_id") != F.col("doc_a"))
            & (F.col("neg_id") != F.col("doc_b"))
        )
        .select(
            F.col("doc_a").alias("anchor_id"),
            F.col("doc_b").alias("pos_id"),
            "neg_id",
            "jaccard",
        )
    )


_PCA_ITER = 3
_PCA_DIMS = 64


def _pca_oracle() -> str:
    """Unrolled 3-step power iteration; every device mirrors the Spark
    side exactly: ordered per-row dot folds, per-dimension DECIMAL(28,8)
    quantized sums exiting through x1e8 BIGINTs, ordered 64-term norm
    folds."""
    d = _PCA_DIMS
    sql = f"""
    WITH v0 AS (
        SELECT list_transform(generate_series(1, {d}),
                              i -> CAST(1 AS DOUBLE) / 8) AS arr)
    """
    prev = "v0"
    for k in range(1, _PCA_ITER + 1):
        sql += f""",
    dot{k} AS (
        SELECT e.vec_id, e.embedding,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(generate_series(1, {d}),
                       i -> CAST(e.embedding[i] AS DOUBLE) * v.arr[i])),
                   (a, x) -> a + x) AS dp
        FROM embeddings e, {prev} v),
    w{k} AS (
        SELECT t.i - 1 AS dim,
               {dsum_q8_sql('CAST(d.embedding[t.i] AS DOUBLE) * d.dp')} AS w
        FROM dot{k} d CROSS JOIN generate_series(1, {d}) AS t(i)
        GROUP BY 1),
    n{k} AS (
        SELECT list(w ORDER BY dim) AS warr,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                             list(w * w ORDER BY dim)),
                                (a, x) -> a + x)) AS nrm
        FROM w{k}),
    v{k} AS (
        SELECT list_transform(warr, x -> x / nrm) AS arr, nrm FROM n{k})
    """
        prev = f"v{k}"
    return sql + f"""
    SELECT t.i - 1 AS dim, v.arr[t.i] AS loading,
           v.nrm AS eigenvalue_est
    FROM {prev} v CROSS JOIN generate_series(1, {d}) AS t(i)
    """


@register("ext-embed-pca-power", oracle=_pca_oracle())
def ext_embed_pca_power(spark, sf_dir):
    """Dominant principal component of the embedding corpus by
    matrix-free power iteration (3 steps from the exact 1/8-uniform
    unit start -- 1/sqrt(64) is a power of two): v <- normalize(X^T X
    v) computed as one pass per step, the linear-algebra primitive
    under PCA whitening, spectral dedup, and embedding-drift monitors.
    Per-row dot products fold the 64 terms IN ARRAY ORDER (zip_with +
    ordered F.aggregate; identical IEEE sequence in both engines); the
    per-dimension reduction -- the only cross-row, order-free sum --
    quantizes each contribution to the 1e-8 DECIMAL grid and exits
    through a x1e8 scaled BIGINT (the dsum device, grid sized to O(1)
    terms); the 64-term norm folds in dimension order and the loading
    divides are correctly rounded -- the component ships BIT-IDENTICAL
    UNROUNDED, eigenvalue estimate = the final pre-normalization norm.
    Fixed iteration count (not convergence-tested): both engines run
    the identical 3 steps.

    Scale: each step is one map-side dot pass + one posexplode shuffle
    keyed by the 64 dimensions with partial aggregation -- the
    wordcount shape; the 64-float vector rides along as a broadcast.
    The x1e8 BIGINT exit carries ~1e19/1e8 of total mass headroom (a
    10^10-row corpus at O(1) terms overflows it -- shard the exit or
    coarsen the grid past that, noted here deliberately). Deeper
    spectra (top-k components) run k sequential deflations of the same
    pass."""
    e = views(spark, sf_dir).table("embeddings")
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", emb_d.alias("emb"))
    v = None  # None encodes the exact 1/8-uniform start vector
    for _ in range(_PCA_ITER):
        if v is None:
            dp = F.aggregate(
                F.col("emb"), F.lit(0.0), lambda a, x: a + x * F.lit(0.125)
            )
            dotted = base.select("emb", dp.alias("dp"))
        else:
            dp = F.aggregate(
                F.zip_with(F.col("emb"), F.col("arr"), lambda a, b: a * b),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            dotted = base.crossJoin(F.broadcast(v)).select(
                "emb", dp.alias("dp")
            )
        terms = dotted.select(
            "dp", F.posexplode("emb").alias("dim", "ev")
        ).select("dim", (F.col("ev") * F.col("dp")).alias("t"))
        w = terms.groupBy("dim").agg(dsum_q8("t", "w"))
        n = w.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "w"))),
                lambda s: s.w,
            ).alias("warr")
        ).select(
            "warr",
            F.sqrt(
                F.aggregate(
                    F.col("warr"), F.lit(0.0), lambda a, x: a + x * x
                )
            ).alias("nrm"),
        )
        v = n.select(
            F.transform(F.col("warr"), lambda x: x / F.col("nrm")).alias(
                "arr"
            ),
            "nrm",
        )
    return v.select(
        F.posexplode("arr").alias("dim", "loading"), F.col("nrm")
    ).select("dim", "loading", F.col("nrm").alias("eigenvalue_est"))


@register(
    "ext-embed-centroid-inertia",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, label, i AS dim,
               CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)),
    cent AS (
        SELECT label, dim,
               {dsum_q8_sql('v')} / COUNT(*) AS c
        FROM ex GROUP BY 1, 2),
    carr AS (
        SELECT label, list(c ORDER BY dim) AS arr,
               CAST(COUNT(*) AS BIGINT) AS dims
        FROM cent GROUP BY 1),
    dist AS (
        SELECT e.vec_id, e.label,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(generate_series(1, 64),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - c.arr[i])
                            * (CAST(e.embedding[i] AS DOUBLE) - c.arr[i]))),
                   (a, x) -> a + x) AS d2
        FROM embeddings e JOIN carr c ON c.label = e.label),
    agg AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
               {dsum_q8_sql('d2')} AS inertia
        FROM dist GROUP BY 1),
    cn AS (
        SELECT label,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                        list_transform(arr, x -> x * x)),
                    (a, x) -> a + x)) AS centroid_norm
        FROM carr)
    SELECT a.label, a.n_vectors, a.inertia,
           a.inertia / a.n_vectors AS mean_d2,
           cn.centroid_norm
    FROM agg a JOIN cn USING (label)
    """,
)
def ext_embed_centroid_inertia(spark, sf_dir):
    """Per-label embedding centroids with within-cluster inertia: the
    k-means quality readout over the LABELED clusters (mean squared
    distance to the class centroid, plus the centroid's norm) -- the
    drift monitor an embedding pipeline tracks per class (inertia
    creeping up = the encoder or the data moved) and the evaluation
    half of the ext-ann-ivf index build. Centroid components are
    1e-8-grid quantized per-dimension means (dsum_q8 / count -- two
    correctly-rounded divides on exact operands, bit-identical);
    each row's squared distance folds the 64 terms IN DIMENSION ORDER
    against the broadcast centroid (identical IEEE sequence); the
    per-label inertia sum re-enters the 1e-8 grid (d2 is O(10));
    centroid norms fold in dimension order. Everything ships unrounded.

    Scale: centroiding is the posexplode wordcount shape (one shuffle
    keyed by (label, dim), partial-aggregated); the distance pass is
    map-side against the broadcast (labels x 64) centroid table; the
    inertia reduce keys on the label. One corpus read per pass, two
    passes -- the unavoidable two-phase of any centroid statistic."""
    e = views(spark, sf_dir).table("embeddings")
    ex = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("dim", "v"),
    )
    cent = ex.groupBy("label", "dim").agg(
        (dsum_q8("v") / F.count("*")).alias("c")
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s.c,
        ).alias("arr")
    )
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d2 = F.aggregate(
        F.zip_with(emb_d, F.col("arr"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    dist = e.join(F.broadcast(carr), "label").select("label", d2.alias("d2"))
    agg = dist.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        dsum_q8("d2", "inertia"),
    )
    cn = carr.select(
        "label",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("arr"), lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("centroid_norm"),
    )
    return agg.join(cn, "label").select(
        "label",
        "n_vectors",
        "inertia",
        (F.col("inertia") / F.col("n_vectors")).alias("mean_d2"),
        "centroid_norm",
    )
