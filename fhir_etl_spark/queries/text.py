"""Text-analysis inventory over the `documents` table (north-star operators;
implemented in operators/text.py, oracled here in equivalent DuckDB SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir_etl_spark.operators.text import (
    BPE_ISH_PATTERN,
    LANG_STOPWORDS,
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from fhir_etl_spark.queries.registry import query
from fhir_etl_spark.session import load_tables

_TOKS_SQL = "list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')"


@query(
    "t1_token_count",
    oracle=f"""
    SELECT doc_id,
           len({_TOKS_SQL}) AS n_tokens,
           len(regexp_extract_all(text, '''?[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')) AS n_bpe_tokens
    FROM documents
    """,
    tags=("text",),
)
def t1_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting (tokenizer-cost proxy)."""
    documents = load_tables(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


@query(
    "t2_quality_score",
    oracle=f"""
    -- single exact-integer division, UNROUNDED (same shape as operators/
    -- text.quality_score): identical int64 inputs + correctly-rounded IEEE
    -- division = bit-identical doubles on both engines; round() would
    -- diverge on decimal half-boundaries (Spark rounds the shortest-
    -- decimal form, DuckDB the binary value)
    SELECT doc_id,
           (4*least(n_tok, 100)*nc*nt
          + 300*(nc - least(5*n_punct, nc))*nt
          + 300*least(5*n_stop, nt)*nc) / (1000*nc*nt) AS quality
    FROM (
      SELECT doc_id, n_tok, n_punct, n_stop,
             greatest(n_chars, 1) AS nc, greatest(n_tok, 1) AS nt
      FROM (
        SELECT doc_id,
               len({_TOKS_SQL}) AS n_tok,
               length(text) AS n_chars,
               len(regexp_extract_all(text, '[^\\w \\t\\n\\x0b\\f\\r]')) AS n_punct,
               len(list_filter({_TOKS_SQL},
                    x -> list_contains(['the','a','of','and','to','in','is','that','for','it'], x)))
                    AS n_stop
        FROM documents
      )
    )
    """,
    tags=("text",),
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punctuation/stopword quality heuristic in [0,1]."""
    documents = load_tables(spark, sf_dir, "documents")
    return documents.select("doc_id", quality_score("text").alias("quality"))


def _lang_hits_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return (
        f"len(list_filter({_TOKS_SQL}, x -> list_contains([{words}], x)))"
    )


@query(
    "t3_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           CASE
             WHEN h_de > 0 AND h_de = best THEN 'de'
             WHEN h_en > 0 AND h_en = best THEN 'en'
             WHEN h_es > 0 AND h_es = best THEN 'es'
             WHEN h_fr > 0 AND h_fr = best THEN 'fr'
             ELSE 'und' END AS lang_pred
    FROM (
      SELECT doc_id, lang,
             {_lang_hits_sql('en')} AS h_en,
             {_lang_hits_sql('de')} AS h_de,
             {_lang_hits_sql('fr')} AS h_fr,
             {_lang_hits_sql('es')} AS h_es,
             greatest({_lang_hits_sql('en')}, {_lang_hits_sql('de')},
                      {_lang_hits_sql('fr')}, {_lang_hits_sql('es')}) AS best
      FROM documents
    )
    """,
    tags=("text",),
)
def t3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with alphabetical tie-break."""
    documents = load_tables(spark, sf_dir, "documents")
    return documents.select("doc_id", "lang", lang_id("text").alias("lang_pred"))


@query(
    "t4_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' ')) AS fp
    FROM documents
    """,
    tags=("text", "dedup"),
)
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive token-set fingerprint (md5) — the cheap first-pass
    dedup key before MinHash."""
    documents = load_tables(spark, sf_dir, "documents")
    return documents.select("doc_id", fingerprint("text").alias("fp"))


@query(
    "t6_clean_corpus",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             (4*least(n_tok, 100)*nc*nt
            + 300*(nc - least(5*n_punct, nc))*nt
            + 300*least(5*n_stop, nt)*nc) / (1000*nc*nt) AS quality
      FROM (
        SELECT doc_id, n_tok, n_punct, n_stop,
               greatest(n_chars, 1) AS nc, greatest(n_tok, 1) AS nt
        FROM (
          SELECT doc_id,
                 len({_TOKS_SQL}) AS n_tok,
                 length(text) AS n_chars,
                 len(regexp_extract_all(text, '[^\\w \\t\\n\\x0b\\f\\r]')) AS n_punct,
                 len(list_filter({_TOKS_SQL},
                      x -> list_contains(['the','a','of','and','to','in','is','that','for','it'], x)))
                      AS n_stop
          FROM documents WHERE lang = 'en'
        )
      )
    ), kept AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN scored USING (doc_id)
      WHERE quality >= 0.5
    )
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM (SELECT doc_id,
                 md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))) AS dg
          FROM kept)
    GROUP BY dg
    """,
    tags=("text", "dedup", "pipeline"),
)
def t6_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4-style cleaning pipeline end-to-end as ONE declarative plan:
    language filter → quality threshold → exact dedup (min-id
    representative). Composing the operators keeps everything in a single
    Catalyst plan — the filters fuse into the scan, and the only shuffle
    is the final digest groupBy."""
    from fhir_etl_spark.operators.dedup import exact_dedup

    documents = load_tables(spark, sf_dir, "documents")
    cleaned = documents.filter(F.col("lang") == "en").filter(
        quality_score("text") >= 0.5
    )
    return exact_dedup(cleaned)


@query(
    "t8_distinctive_terms",
    oracle=f"""
    -- integer-only TF-IDF ranking (tf DESC, df ASC): rank-equivalent to
    -- tf*idf per doc without ln()'s cross-engine float parity risk
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), ranked AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC
             ) AS INTEGER) AS term_rank
      FROM tf JOIN dfreq USING (term)
    )
    SELECT doc_id, term, tf, df, term_rank FROM ranked WHERE term_rank <= 3
    """,
    tags=("text",),
)
def t8_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document (tf DESC, df ASC, term) — the
    keyword-extraction building block of corpus exploration; WindowGroupLimit
    prunes the per-doc top-k map-side."""
    from fhir_etl_spark.operators.text import distinctive_terms

    documents = load_tables(spark, sf_dir, "documents")
    return distinctive_terms(documents, k=3)


@query(
    "t9_pii_scrub",
    oracle="""
    -- the synthetic corpus has no natural PII, so inject deterministic
    -- doc_id-derived emails/phones/IPs first, then scrub; counts are
    -- taken BEFORE redaction. Patterns are ASCII-only (Java/RE2 parity);
    -- DuckDB regexp_replace needs the 'g' flag (Spark replaces all).
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                     || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS n_phones,
           len(regexp_extract_all(text, '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS n_ips,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
                 '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g')) AS clean_fp
    FROM aug
    """,
    tags=("text", "pii"),
)
def t9_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect-and-redact over the corpus (emails, phones, IPv4).
    Deterministic doc_id-derived PII is injected first because the
    synthetic text contains none — the scrub itself is the operator under
    test (`operators/text.pii_scrub`, map-only codegen)."""
    from fhir_etl_spark.operators.text import pii_scrub

    documents = load_tables(spark, sf_dir, "documents")
    aug = documents.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    ((F.col("doc_id") * 7) % 256).cast("string"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    return pii_scrub(aug).select(
        "doc_id", "n_emails", "n_phones", "n_ips", F.md5("clean_text").alias("clean_fp")
    )


@query(
    "t7_repetition_signals",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), ok AS (
      SELECT doc_id, t FROM toks WHERE len(t) >= 3
    ), grams AS (
      SELECT doc_id,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bi,
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS tri
      FROM ok
    ), per_gram AS (
      SELECT doc_id,
             round(1.0 - CAST(len(list_distinct(tri)) AS DOUBLE)
                       / CAST(len(tri) AS DOUBLE), 4) AS dup_trigram_frac,
             unnest(bi) AS bigram
      FROM grams
    ), counts AS (
      SELECT doc_id, bigram, count(*) AS c, max(dup_trigram_frac) AS dup_trigram_frac
      FROM per_gram GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_frac,
           max(dup_trigram_frac) AS dup_trigram_frac
    FROM counts GROUP BY doc_id
    """,
    tags=("text", "quality"),
)
def t7_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules (top-bigram fraction +
    duplicate-trigram fraction) per document — the repetition family of
    MassiveText cleaning signals, as codegen n-gram arrays plus one
    doc-local groupBy."""
    from fhir_etl_spark.operators.text import repetition_signals

    documents = load_tables(spark, sf_dir, "documents")
    return repetition_signals(documents)


@query(
    "m1_binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,  -- VARCHAR md5 hashes the UTF-8 bytes
           substring(text, 1, 4) AS magic4  -- ASCII corpus: char slice = byte slice
    FROM documents
    """,
    tags=("multimodal", "binary"),
)
def m1_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing with a full value oracle: byte
    length, content digest, and leading magic bytes over a binary column
    (documents.text encoded to UTF-8 stands in for media blobs; this
    query proves the binary-type scan/expression surface against
    DuckDB)."""
    documents = load_tables(spark, sf_dir, "documents")
    blob = F.encode("text", "UTF-8")
    return documents.select(
        "doc_id",
        F.length(blob).cast("long").alias("n_bytes"),
        F.md5(blob).alias("content_md5"),
        F.substring(blob, 1, 4).cast("string").alias("magic4"),  # byte slice
    )


@query(
    "t10_bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bigrams AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
    ), uni AS (
      SELECT w1, count(*) AS c1 FROM bigrams GROUP BY w1
    ), bi AS (
      SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2
    )
    SELECT bi.w1, bi.w2,
           CAST(bi.c12 AS BIGINT) AS c12,
           CAST(uni.c1 AS BIGINT) AS c1,
           round(bi.c12 / uni.c1, 6) AS p_w2_given_w1
    FROM bi JOIN uni ON bi.w1 = uni.w1
    """,
    tags=("text", "lm"),
)
def t10_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram language model: P(w2|w1) = c(w1,w2)/c(w1).
    Two groupBys over one bigram explode + a co-partitioned join (both
    sides shuffled on w1) — per-row division, so the rounded probability
    is order-independent and value-oracle-able. The LM table is itself
    the input to OOV/novelty scoring (t11)."""
    documents = load_tables(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = documents.select(
        F.posexplode(F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))).alias(
            "i", "w1"
        ),
        toks.alias("_t"),
    ).select("w1", F.expr("_t[i + 1]").alias("w2"))
    uni = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    bi = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    return bi.join(uni, "w1").select(
        "w1",
        "w2",
        F.col("c12").cast("long").alias("c12"),
        F.col("c1").cast("long").alias("c1"),
        F.round(F.col("c12") / F.col("c1"), 6).alias("p_w2_given_w1"),
    )


@query(
    "t11_oov_rate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), words AS (
      SELECT doc_id, t[i] AS w
      FROM toks, UNNEST(generate_series(1, len(t))) AS g(i)
    ), vocab AS (
      SELECT w FROM words GROUP BY w HAVING count(DISTINCT doc_id) >= 5
    )
    SELECT words.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) / count(*), 6)
             AS oov_rate
    FROM words LEFT JOIN vocab ON words.w = vocab.w
    GROUP BY words.doc_id
    """,
    tags=("text", "lm", "quality"),
)
def t11_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary scoring: the vocabulary is corpus-derived (words
    in ≥5 distinct docs), each doc scored by its OOV token fraction — the
    standard cheap proxy for 'weird' documents before an expensive model
    pass. One explode, one vocab agg, one join, one doc agg; the rate is
    per-row division (order-independent → value oracle)."""
    documents = load_tables(spark, sf_dir, "documents")
    words = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 5)
        .select("w", F.lit(True).alias("_in_vocab"))
    )
    return (
        words.join(vocab, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("oov_rate"),
        )
    )


@query(
    "t12_lm_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bigrams AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
    ), uni AS (
      SELECT w1, count(*) AS c1 FROM bigrams GROUP BY w1
    ), bi AS (
      SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2
    ), v AS (
      SELECT count(*) AS v FROM uni
    )
    SELECT bigrams.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln((bi.c12 + 1.0) / (uni.c1 + v.v))), 4) AS xent
    FROM bigrams
    JOIN bi  ON bigrams.w1 = bi.w1 AND bigrams.w2 = bi.w2
    JOIN uni ON bigrams.w1 = uni.w1
    CROSS JOIN v
    GROUP BY bigrams.doc_id
    """,
    tags=("text", "lm", "quality"),
)
def t12_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own add-one-smoothed
    bigram LM — the CCNet/KenLM-style quality filter: documents whose
    token transitions are improbable under the corpus LM score high and
    get filtered or down-weighted before training.

    Composition of the t10 LM with per-doc scoring: one bigram explode,
    two count aggs (w1 and w1,w2 keys), two joins back onto the bigram
    stream (all shuffled on w1 — co-partitioned), the |V| scalar rides a
    1-row broadcast cross join, one doc-level agg. Integer counts make
    every per-row probability deterministic; the avg of ~100 doubles per
    doc rounds at 1e-4, far above cross-engine summation-order noise
    (~1e-13), so the value oracle is exact in practice."""
    # Implementation note (shuffle accounting): the operator scores the
    # (much smaller) DISTINCT-bigram LM table first, then joins the full
    # bigram stream exactly once — the naive shape joins the stream twice
    # (on (w1,w2) and again on w1), paying two full-stream shuffles.
    # Per-bigram float values come from the same integers either way, so
    # the avg matches the oracle well inside its 1e-4 rounding.
    from fhir_etl_spark.operators.text import lm_cross_entropy

    documents = load_tables(spark, sf_dir, "documents")
    return lm_cross_entropy(documents)


@query(
    "t17_gopher_char_repetition",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, {_TOKS_SQL} AS t,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(list_transform({_TOKS_SQL}, x -> length(x))), 0)
                  AS BIGINT) AS word_chars
      FROM documents
    ), bi AS (
      SELECT doc_id, array_to_string(t[j : j + 1], ' ') AS g
      FROM base, UNNEST(generate_series(1, len(t) - 1)) AS u(j)
    ), topg AS (
      SELECT doc_id, g, count(*) AS c,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY count(*) DESC, g ASC
             ) AS rk
      FROM bi GROUP BY doc_id, g
    ), top1 AS (
      SELECT doc_id, g AS top_gram, CAST(c AS BIGINT) AS top_count,
             CAST(c * length(replace(g, ' ', '')) AS BIGINT) AS top_char_num
      FROM topg WHERE rk = 1
    ), pg AS MATERIALIZED (
      SELECT doc_id, j AS p, array_to_string(t[j : j + 4], ' ') AS g
      FROM base, UNNEST(generate_series(1, len(t) - 4)) AS u(j)
    ), dupg AS (
      SELECT doc_id, g FROM pg GROUP BY doc_id, g HAVING count(*) > 1
    ), cover AS (
      SELECT DISTINCT pg.doc_id, i
      FROM pg JOIN dupg USING (doc_id, g),
           UNNEST(generate_series(pg.p, pg.p + 4)) AS v(i)
    ), covchars AS (
      SELECT cover.doc_id,
             CAST(sum(length(base.t[cover.i])) AS BIGINT) AS dup_covered_chars
      FROM cover JOIN base USING (doc_id) GROUP BY cover.doc_id
    )
    SELECT base.doc_id, base.n_tokens, base.word_chars,
           coalesce(top1.top_gram, '') AS top_gram,
           coalesce(top1.top_count, 0) AS top_count,
           coalesce(top1.top_char_num, 0) AS top_char_num,
           coalesce(covchars.dup_covered_chars, 0) AS dup_covered_chars,
           coalesce(top1.top_char_num, 0) * 5 > base.word_chars AS top_gram_reject,
           coalesce(covchars.dup_covered_chars, 0) * 20 > base.word_chars * 3
             AS dup_gram_reject
    FROM base
    LEFT JOIN top1 USING (doc_id)
    LEFT JOIN covchars USING (doc_id)
    """,
    tags=("text", "quality", "gopher"),
)
def t17_gopher_char_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's char-weighted repetition filters (Rae et al. 2021 table
    A1): fraction of word characters inside the most frequent 2-gram and
    inside ANY duplicated 5-gram occurrence (positional-union coverage —
    overlapping duplicates must not double-count a token). Complements
    t7's count fractions with the metrics MassiveText actually
    thresholds on; all-integer arithmetic, so the oracle hashes exactly.
    See operators/text.gopher_char_repetition for the scale shape."""
    from fhir_etl_spark.operators.text import gopher_char_repetition

    documents = load_tables(spark, sf_dir, "documents")
    return gopher_char_repetition(documents).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "word_chars",
        "top_gram",
        "top_count",
        "top_char_num",
        "dup_covered_chars",
        "top_gram_reject",
        "dup_gram_reject",
    )


def _bpe_cte_chain(n_merges: int) -> str:
    """The shared WITH-chain replaying BPE training + per-doc encoding
    through the ``enc`` CTE (doc_id, word position, symbol list) — the
    common prefix of the t13/t13p oracles and ds13's token-budget
    oracle. See :func:`_bpe_oracle_sql` for the technique notes.

    Technique: each word's symbol array is represented as a
    ``|``-wrapped string (``|t||h||e||</w>|``; the corpus contains no
    ``|`` at any SF — verified, and the Spark side never uses the
    separator). One chained CTE pair per merge iteration:

    - ``p{i}``: adjacent-pair weighted counts off the distinct-word
      table (exactly bpe_train's explode+groupBy);
    - ``m{i}``: argmax with bpe_train's tie-break (count desc, left
      asc, right asc — binary string compare in both engines);
    - ``w{i}``: ``replace(repr, '|l||r|', '|lr|')``. A non-overlapping
      left-to-right scan that resumes AFTER each replacement is exactly
      the greedy fold ``_merge_pair_expr`` implements: merged symbols
      can't re-match (``|a||a||a|`` → ``|aa||a|``) while adjacent
      matches can (``|a||b||a||b|`` → ``|ab||ab|``), because the
      wrapped form shares no boundary characters between matches.

    Encoding then joins doc words to the final word table (same result
    as folding per occurrence — merges are per-word deterministic).
    The break-below-count-2 clause in bpe_train is unreplayed: every
    SF's corpus has 6 merges with thousands of occurrences."""
    parts = [
        """WITH words AS MATERIALIZED (
      SELECT w, count(*) AS weight
      FROM (SELECT unnest(regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    ), w0 AS MATERIALIZED (
      SELECT w, weight,
             '|' || array_to_string(list_append(string_split(w, ''), '</w>'), '||') || '|' AS repr
      FROM words
    )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""", p{i} AS MATERIALIZED (
      SELECT s[j] AS l, s[j + 1] AS r, sum(weight) AS c
      FROM (SELECT string_split(substr(repr, 2, len(repr) - 2), '||') AS s,
                   weight FROM w{i - 1}) t,
           UNNEST(generate_series(1, len(s) - 1)) AS g(j)
      GROUP BY 1, 2
    ), m{i} AS MATERIALIZED (
      SELECT l, r FROM p{i} ORDER BY c DESC, l ASC, r ASC LIMIT 1
    ), w{i} AS MATERIALIZED (
      SELECT w, weight,
             replace(repr,
                     '|' || (SELECT l FROM m{i}) || '||' || (SELECT r FROM m{i}) || '|',
                     '|' || (SELECT l FROM m{i}) || (SELECT r FROM m{i}) || '|') AS repr
      FROM w{i - 1}
    )"""
        )
    parts.append(
        f""", doc_words AS MATERIALIZED (
      SELECT doc_id, j, ws[j] AS w
      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS ws
            FROM documents) t,
           UNNEST(generate_series(1, len(ws))) AS g(j)
      WHERE ws[j] <> ''
    ), enc AS MATERIALIZED (
      SELECT dw.doc_id, dw.j,
             string_split(substr(wf.repr, 2, len(wf.repr) - 2), '||') AS syms
      FROM doc_words dw JOIN w{n_merges} wf ON dw.w = wf.w
    )"""
    )
    return "".join(parts)


def _bpe_oracle_sql(n_merges: int = 6) -> str:
    """The full t13/t13p oracle: DuckDB replays BPE TRAINING AND
    ENCODING end-to-end (VERDICT r07 #3, upgraded: the learned merges
    differ per SF, so freezing them as literals would only oracle one
    SF — this replays the argmax loop itself via :func:`_bpe_cte_chain`,
    so the oracle is value-exact at any SF), then aggregates per-doc
    token counts and head symbols."""
    return (
        _bpe_cte_chain(n_merges)
        + """, agg AS MATERIALIZED (
      SELECT doc_id,
             CAST(sum(len(syms)) AS BIGINT) AS n_bpe_tokens,
             array_to_string(flatten(list(syms ORDER BY j))[1:5], ' ') AS head_tokens
      FROM enc GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(agg.n_bpe_tokens, 0) AS n_bpe_tokens,
           coalesce(agg.head_tokens, '') AS head_tokens
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id"""
    )


@query("t13_bpe_tokenize", oracle=_bpe_oracle_sql(6), tags=("text", "tokenizer"))
def t13_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 6-merge BPE vocabulary on the corpus (operators/bpe.py —
    distributed pair counting over the distinct-word table, codegen
    merge folds) and tokenize every document with it.

    VALUE-ORACLED as of round 8 (previously rows-only): the oracle
    replays the full train-then-encode loop — see :func:`_bpe_oracle_sql`
    for how the iterative argmax and the greedy merge fold are expressed
    in chained CTEs. The Sennrich worked example and corpus
    compression/round-trip invariants stay in tests/test_training.py.

    head_tokens is emitted as a SPACE-JOINED STRING, not the raw
    array<string>: the driver's canonicalizer factorizes columns via
    pandas and dies on unhashable Python lists (VERDICT r07 #1 — the
    raw array form cost t13 even its rows-only row). The array-form
    invariants live in tests/test_training.py."""
    from fhir_etl_spark.operators.bpe import bpe_encode, bpe_train

    documents = load_tables(spark, sf_dir, "documents")
    merges = bpe_train(documents, n_merges=6)
    return bpe_encode(documents, merges).select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.concat_ws(" ", F.slice("bpe_tokens", 1, 5)).alias("head_tokens"),
    )


@query(
    "t13p_bpe_store",
    oracle=_bpe_oracle_sql(8),
    tags=("text", "tokenizer", "store"),
)
def t13p_bpe_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t13's BPE tokenizer behind the PERSISTED merge store (VERDICT
    r10 #2; operators/bpe.bpe_build_or_load — the ann_store/d13p/t23p
    fingerprint-keyed pattern): training runs once per (corpus content,
    recipe) and commits the ordered merge list; the serve path loads
    the tiny table and encodes with a map-only codegen fold — zero
    training rounds (pinned in tests/test_bpe_store.py by making
    bpe_train unreachable on a warm store). Deliberately a DIFFERENT
    recipe than t13 (8 merges vs 6) so the two store entries are
    distinct and a cross-served store value-mismatches; the oracle
    replays the full 8-merge training loop from the RAW corpus, so a
    stale store — wrong fingerprint hit, mangled merge table, reordered
    ranks — value-mismatches here."""
    from fhir_etl_spark.operators.bpe import bpe_build_or_load, bpe_encode

    documents = load_tables(spark, sf_dir, "documents")
    merges = bpe_build_or_load(spark, documents, n_merges=8)
    return bpe_encode(documents, merges).select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.concat_ws(" ", F.slice("bpe_tokens", 1, 5)).alias("head_tokens"),
    )


# t14's full replay as a reusable constant: c6 nests it as the chunk
# corpus of its retrieval chain (the c2/c5 stage-nesting pattern)
_T14_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), starts AS (
      SELECT doc_id, t, len(t) AS n, unnest(range(0, len(t), 48)) AS s
      FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(s / 48 AS INTEGER) AS chunk_index,
           CAST(s AS BIGINT) AS chunk_start,
           CAST(least(64, n - s) AS BIGINT) AS n_chunk_tokens,
           array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text
    FROM starts
    WHERE s = 0 OR s < n - 16
    """


@query(
    "t14_chunk_documents",
    oracle=_T14_ORACLE,
    tags=("text", "chunking"),
)
def t14_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token / 16-overlap context windows per document
    (RAG/training prep; operators/text.chunk_documents). Map-only plan;
    the oracle replays the start arithmetic and token slicing."""
    from fhir_etl_spark.operators.text import chunk_documents

    documents = load_tables(spark, sf_dir, "documents")
    return chunk_documents(documents, chunk_tokens=64, overlap=16)


@query("t15_compression_ratio", oracle=None, tags=("text", "quality", "approx"))
def t15_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflate-ratio redundancy signal over the corpus — rows-only by
    nature (no SQL zlib twin); determinism and the discrimination
    property (repetitive ≪ natural ≪ random) are pinned in
    tests/test_training.py."""
    from fhir_etl_spark.operators.text import compression_ratio

    documents = load_tables(spark, sf_dir, "documents")
    return compression_ratio(documents)


@query(
    "t16_url_canonicalize",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || (['www','CDN','blog'])[(doc_id % 3) + 1] ||
             '.Site' || (doc_id % 7) || '.' ||
             (['com','org','co.uk','net','io'])[(doc_id % 5) + 1] ||
             '/' || lang || '/Doc/' || doc_id ||
             '?utm_source=feed&b=2&a=1#sec' || (doc_id % 4) AS url
      FROM documents
    ), p AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^https://([^/?#]+)', 1)) AS host,
             regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1) AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS query
      FROM u
    ), d AS (
      SELECT *, string_split(host, '.') AS labels FROM p
    )
    SELECT doc_id, host,
           CASE WHEN len(labels) <= 2 THEN host
                WHEN (labels[-2] || '.' || labels[-1]) IN
                     ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
                      'org.au','co.jp','ne.jp','or.jp','com.br','com.cn',
                      'com.mx','co.in','co.kr','co.za')
                  THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
                ELSE labels[-2] || '.' || labels[-1]
           END AS reg_domain,
           path,
           CAST(len(list_filter(string_split(path, '/'), x -> x <> ''))
                AS INT) AS path_depth,
           'https://' || host || path || '?' ||
           array_to_string(
             list_sort(list_filter(string_split(query, '&'),
                                   x -> x <> '' AND substr(x, 1, 4) <> 'utm_')),
             '&') AS norm_url
    FROM d
    """,
    tags=("text", "url", "curation"),
)
def t16_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + canonicalization (operators/urls.py) over per-doc
    URLs synthesized deterministically from the documents table (mixed
    case, tracking params, fragments, multi-label public suffixes all
    exercised): host lowercasing, eTLD+1 registered-domain extraction,
    path depth, and the crawl-frontier canonical form (utm-stripped,
    param-sorted, fragment-dropped). The oracle replays every rule with
    DuckDB string/list functions. Downstream: exact_dedup on norm_url =
    URL-level dedup; quota_cap on reg_domain = per-domain caps."""
    from fhir_etl_spark.operators.urls import url_components

    documents = load_tables(spark, sf_dir, "documents")
    subs = F.array(F.lit("www"), F.lit("CDN"), F.lit("blog"))
    tlds = F.array(
        F.lit("com"), F.lit("org"), F.lit("co.uk"), F.lit("net"), F.lit("io")
    )
    url = F.concat(
        F.lit("https://"),
        F.element_at(subs, (F.col("doc_id") % 3 + 1).cast("int")),
        F.lit(".Site"), (F.col("doc_id") % 7).cast("string"),
        F.lit("."),
        F.element_at(tlds, (F.col("doc_id") % 5 + 1).cast("int")),
        F.lit("/"), F.col("lang"),
        F.lit("/Doc/"), F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&b=2&a=1#sec"),
        (F.col("doc_id") % 4).cast("string"),
    )
    with_url = documents.select("doc_id", url.alias("url"))
    return url_components(with_url).select(
        "doc_id", "host", "reg_domain", "path", "path_depth", "norm_url"
    )


# t18: the t12 per-doc cross-entropy replay, as a CTE feeding the bucket split
_T18_XE = """
      SELECT bigrams.doc_id,
             round(avg(-ln((bi.c12 + 1.0) / (uni.c1 + v.v))), 4) AS xent
      FROM bigrams
      JOIN bi  ON bigrams.w1 = bi.w1 AND bigrams.w2 = bi.w2
      JOIN uni ON bigrams.w1 = uni.w1
      CROSS JOIN v
      GROUP BY bigrams.doc_id
"""


@query(
    "t18_ccnet_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bigrams AS MATERIALIZED (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
    ), uni AS MATERIALIZED (
      SELECT w1, count(*) AS c1 FROM bigrams GROUP BY w1
    ), bi AS MATERIALIZED (
      SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2
    ), v AS MATERIALIZED (
      SELECT count(*) AS v FROM uni
    ), xe AS MATERIALIZED ({_T18_XE}
    ), hist AS MATERIALIZED (
      SELECT xent, count(*) AS c FROM xe GROUP BY xent
    ), cum AS MATERIALIZED (
      SELECT xent, sum(c) OVER (ORDER BY xent
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum
      FROM hist
    ), tot AS (
      SELECT count(*) AS n FROM xe
    ), cuts AS MATERIALIZED (
      SELECT min(CASE WHEN cum >= floor((1*n + 2) / 3.0) THEN xent END) AS c1,
             min(CASE WHEN cum >= floor((2*n + 2) / 3.0) THEN xent END) AS c2
      FROM cum CROSS JOIN tot
    )
    SELECT doc_id, xent,
           CASE WHEN xent <= c1 THEN 'head'
                WHEN xent <= c2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM xe CROSS JOIN cuts
    """,
    tags=("text", "lm", "quality"),
)
def t18_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek 2020): score every
    document by LM cross-entropy (the t12 pipeline), then cut the corpus
    into perplexity terciles — head = most fluent third, the slice CCNet
    keeps outright. Cuts come from the HISTOGRAM of the 4dp-quantized
    score (operators/text.quantile_buckets): the corpus is never
    globally sorted, and equal scores never straddle a cut, so the
    label is a pure function of the score multiset. Exactness rides on
    t12's: integer-count probabilities, avg rounded at 1e-4 — the cut
    compare then operates on values both engines agree on bit-for-bit."""
    from fhir_etl_spark.operators.text import lm_cross_entropy, quantile_buckets

    documents = load_tables(spark, sf_dir, "documents")
    xe = lm_cross_entropy(documents).select("doc_id", "xent")
    return quantile_buckets(xe, "xent", out_col="ppl_bucket")


@query(
    "t19_collocation_lift",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, t, count(*) AS c FROM (
        SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents
      ) GROUP BY doc_id, t
    ), capped AS MATERIALIZED (
      SELECT doc_id, t FROM (
        SELECT doc_id, t,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, t) AS rk
        FROM tok) WHERE rk <= 32
    ), nd AS (
      SELECT count(DISTINCT doc_id) AS n FROM documents
    ), tdf AS MATERIALIZED (
      SELECT t, count(*) AS df FROM capped GROUP BY t
    ), pairs AS (
      SELECT x.t AS a, y.t AS b, count(*) AS ab
      FROM capped x JOIN capped y ON x.doc_id = y.doc_id AND x.t < y.t
      GROUP BY x.t, y.t
      HAVING count(*) >= 3
    ), scored AS (
      SELECT a, b, ab, da.df AS dfa, db.df AS dfb,
             (nd.n * ab * CAST(1000000 AS BIGINT)) // (da.df * db.df)
               AS lift_micro
      FROM pairs
      JOIN tdf da ON da.t = a
      JOIN tdf db ON db.t = b
      CROSS JOIN nd
    )
    SELECT a AS token_a, b AS token_b, ab AS pair_docs,
           dfa AS docs_a, dfb AS docs_b, lift_micro, rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY lift_micro DESC, a, b) AS rank
      FROM scored) WHERE rank <= 100
    """,
    tags=("text", "association"),
)
def t19_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining over the corpus: top-100 token pairs by
    document-level LIFT in exact integer micro units (N·df_ab·10⁶
    DIV df_a·df_b — monotone in PMI without cross-engine ln risk),
    per-doc pair fan-out bounded by a 32-token cap. See
    operators/text.collocation_lift for the scale shape (capped pairs,
    key-shuffled doc-frequency joins, one TakeOrdered-style top-k)."""
    from fhir_etl_spark.operators.text import collocation_lift

    documents = load_tables(spark, sf_dir, "documents")
    return collocation_lift(documents)


def _t20_cls(name: str) -> str:
    from fhir_etl_spark.operators.text import SCRIPT_CLASSES

    return SCRIPT_CLASSES[name]


@query(
    "t20_script_detection",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '{{lat}}')) AS BIGINT) AS latin,
             CAST(len(regexp_extract_all(text, '{{cyr}}')) AS BIGINT) AS cyrillic,
             CAST(len(regexp_extract_all(text, '{{cjk}}')) AS BIGINT) AS cjk,
             CAST(len(regexp_extract_all(text, '{{ar}}')) AS BIGINT) AS arabic
      FROM documents
    )
    SELECT doc_id, n_chars, latin, cyrillic, cjk, arabic,
           CASE
             WHEN arabic > 0 AND arabic = greatest(latin, cyrillic, cjk, arabic)
               THEN 'arabic'
             WHEN cjk > 0 AND cjk = greatest(latin, cyrillic, cjk, arabic)
               THEN 'cjk'
             WHEN cyrillic > 0 AND cyrillic = greatest(latin, cyrillic, cjk, arabic)
               THEN 'cyrillic'
             WHEN latin > 0 AND latin = greatest(latin, cyrillic, cjk, arabic)
               THEN 'latin'
             ELSE 'und' END AS script
    FROM c
    """.format(
        lat=_t20_cls("latin"),
        cyr=_t20_cls("cyrillic"),
        cjk=_t20_cls("cjk"),
        ar=_t20_cls("arabic"),
    ),
    tags=("text", "multilingual"),
)
def t20_script_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode script profile + dominant-script pick over
    the multilingual documents corpus (the zh docs must classify cjk,
    the rest latin) — pure-codegen regexp_count, integer counts, exact
    oracle. See operators/text.script_profile."""
    from fhir_etl_spark.operators.text import script_profile

    documents = load_tables(spark, sf_dir, "documents")
    return script_profile(documents)


@query(
    "t21_stupid_backoff",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ), ref_bi AS MATERIALIZED (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
      WHERE lang = 'en'
    ), c1 AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM ref_bi GROUP BY w1
    ), c12 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM ref_bi GROUP BY w1, w2
    ), lm AS MATERIALIZED (
      SELECT c12.w1, c12.w2,
             (c12 * CAST(1000000 AS BIGINT)) // c1 AS seen_micro
      FROM c12 JOIN c1 ON c12.w1 = c1.w1
    ), ref_uni AS MATERIALIZED (
      SELECT u.w, CAST(count(*) AS BIGINT) AS c2
      FROM toks, UNNEST(t) AS u(w) WHERE lang = 'en' GROUP BY u.w
    ), nref AS (
      SELECT CAST(sum(c2) AS BIGINT) AS n FROM ref_uni
    ), uni AS MATERIALIZED (
      SELECT w AS w2,
             (2 * c2 * CAST(1000000 AS BIGINT)) // (5 * nref.n) AS back_micro
      FROM ref_uni CROSS JOIN nref
    ), stream AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
    ), terms AS (
      SELECT s.doc_id,
             coalesce(lm.seen_micro, uni.back_micro, CAST(0 AS BIGINT)) AS term,
             CASE WHEN lm.seen_micro IS NULL THEN 1 ELSE 0 END AS is_backoff
      FROM stream s
      LEFT JOIN lm  ON lm.w1 = s.w1 AND lm.w2 = s.w2
      LEFT JOIN uni ON uni.w2 = s.w2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(is_backoff) AS BIGINT) AS n_backoff,
           CAST(sum(term) AS BIGINT) AS score_micro
    FROM terms GROUP BY doc_id
    """,
    tags=("text", "lm", "quality"),
)
def t21_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM scoring (Brants et al. 2007): the LM
    trains on the ENGLISH documents only, so non-en docs hit the 0.4
    unigram backoff on their unseen transitions — the cross-domain
    scoring setup CCNet-style filters actually run. Every term is exact
    integer micro arithmetic (2/5 for 0.4), so the per-doc sums
    value-oracle with no float step. See
    operators/text.stupid_backoff_score for the shuffle accounting."""
    from fhir_etl_spark.operators.text import stupid_backoff_score

    documents = load_tables(spark, sf_dir, "documents")
    return stupid_backoff_score(
        documents, documents.filter(F.col("lang") == "en")
    )


def _c1_script_cls(name: str) -> str:
    from fhir_etl_spark.operators.text import SCRIPT_CLASSES

    return SCRIPT_CLASSES[name]


@query(
    "c1_curation_pipeline",
    oracle=f"""
    -- the t2/t3/t20/d1 oracle formulas COMPOSED: per-doc profile,
    -- exact-dup representative pick, and the keep verdict in one query
    WITH reps AS MATERIALIZED (
      SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
      FROM documents
      GROUP BY md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))))
    ), prof AS MATERIALIZED (
      SELECT doc_id,
             CAST(n_tok AS BIGINT) AS n_tokens,
             (4*least(n_tok, 100)*nc*nt
            + 300*(nc - least(5*n_punct, nc))*nt
            + 300*least(5*n_stop, nt)*nc) / (1000*nc*nt) AS quality,
             CASE
               WHEN h_de > 0 AND h_de = best THEN 'de'
               WHEN h_en > 0 AND h_en = best THEN 'en'
               WHEN h_es > 0 AND h_es = best THEN 'es'
               WHEN h_fr > 0 AND h_fr = best THEN 'fr'
               ELSE 'und' END AS lang_pred,
             CASE
               WHEN arabic > 0 AND arabic = gs THEN 'arabic'
               WHEN cjk > 0 AND cjk = gs THEN 'cjk'
               WHEN cyrillic > 0 AND cyrillic = gs THEN 'cyrillic'
               WHEN latin > 0 AND latin = gs THEN 'latin'
               ELSE 'und' END AS script
      FROM (
        SELECT *, greatest(n_chars, 1) AS nc, greatest(n_tok, 1) AS nt,
               greatest(h_en, h_de, h_fr, h_es) AS best,
               greatest(latin, cyrillic, cjk, arabic) AS gs
        FROM (
          SELECT doc_id,
                 len({_TOKS_SQL}) AS n_tok,
                 length(text) AS n_chars,
                 len(regexp_extract_all(text, '[^\\w \\t\\n\\x0b\\f\\r]')) AS n_punct,
                 len(list_filter({_TOKS_SQL},
                      x -> list_contains(['the','a','of','and','to','in','is','that','for','it'], x)))
                      AS n_stop,
                 {_lang_hits_sql('en')} AS h_en,
                 {_lang_hits_sql('de')} AS h_de,
                 {_lang_hits_sql('fr')} AS h_fr,
                 {_lang_hits_sql('es')} AS h_es,
                 len(regexp_extract_all(text, '{{lat}}')) AS latin,
                 len(regexp_extract_all(text, '{{cyr}}')) AS cyrillic,
                 len(regexp_extract_all(text, '{{cjk}}')) AS cjk,
                 len(regexp_extract_all(text, '{{ar}}')) AS arabic
          FROM documents
        )
      )
    )
    SELECT prof.doc_id, reps.n_copies, prof.n_tokens, prof.quality,
           prof.lang_pred, prof.script
    FROM prof JOIN reps ON prof.doc_id = reps.doc_id
    WHERE prof.quality >= 0.5 AND prof.n_tokens >= 10
    """.format(
        lat=_c1_script_cls("latin"),
        cyr=_c1_script_cls("cyrillic"),
        cjk=_c1_script_cls("cjk"),
        ar=_c1_script_cls("arabic"),
    ),
    tags=("pipeline", "curation"),
)
def c1_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation tiers COMPOSED in one plan — what a user of
    this engine actually runs before training: per-doc profile (token
    count t1, quality t2, stopword lang-ID t3, Unicode script t20),
    exact-dedup representative pick (d1's min-id-per-digest), and the
    keep verdict (quality ≥ 0.5, ≥ 10 tokens, representative only).
    Profile + digest are ONE map-only projection over ONE scan; the
    dedup groupBy carries the representative's profile via min_by —
    one shuffle end to end at any scale (r12; was two scans + a
    representative join). The oracle composes the exact formulas the
    component oracles already pin."""
    from fhir_etl_spark.operators.dedup import content_digest
    from fhir_etl_spark.operators.text import (
        lang_id,
        quality_score,
        script_columns,
        token_count,
    )

    documents = load_tables(spark, sf_dir, "documents")
    _, script = script_columns(F.col("text"))
    # r12 (guide §2.4, the c2 lesson): profile + digest in ONE scan and
    # the representative's profile folded into the digest aggregation
    # via min_by — the old shape scanned `documents` twice (profile
    # branch + exact_dedup branch) and joined them back on doc_id.
    # Result identical: the representative IS the min doc_id (unique,
    # so min_by has no ties), the verdict filter applies to the same
    # representative profile rows, and exact_dedup's n_copies counted
    # every copy before the quality gate exactly as this groupBy does.
    prof = documents.select(
        "doc_id",
        content_digest(F.col("text")).alias("_digest"),
        token_count("text").cast("long").alias("n_tokens"),
        quality_score("text").alias("quality"),
        lang_id("text").alias("lang_pred"),
        script.alias("script"),
    )
    return (
        prof.groupBy("_digest")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min_by(
                F.struct("n_tokens", "quality", "lang_pred", "script"), "doc_id"
            ).alias("_rep"),
        )
        .where((F.col("_rep.quality") >= 0.5) & (F.col("_rep.n_tokens") >= 10))
        .select(
            "doc_id",
            "n_copies",
            F.col("_rep.n_tokens").alias("n_tokens"),
            F.col("_rep.quality").alias("quality"),
            F.col("_rep.lang_pred").alias("lang_pred"),
            F.col("_rep.script").alias("script"),
        )
    )


def _t22_weights_sql() -> tuple[str, int]:
    """The frozen t22 weight table as a DuckDB list literal (the model
    is in-source — fhir_etl_spark/functions/ft_weights.py — so the
    oracle replays inference with the identical literals)."""
    from fhir_etl_spark.functions import ft_weights as fw

    return "[" + ", ".join(str(v) for v in fw.W_MICRO) + "]", fw.BIAS_MICRO


_T22_W_SQL, _T22_BIAS = _t22_weights_sql()


def _t22q_score_sql(src: str) -> str:
    """DuckDB replay of operators/classifier.quality_gate_scores over
    relation ``src`` (doc_id, text) → (doc_id, n_grams, score_micro).
    Shared by the t22q oracle and the c5b capstone-variant oracle so
    the featurization (grams + 4×-repeated meta tokens) has ONE SQL
    source of truth."""
    from fhir_etl_spark.functions import ft_weights_q as fq

    w_sql = "[" + ", ".join(str(v) for v in fq.W_MICRO) + "]"
    meta = (
        "['__nt_' || CAST(least(n_tok // 20, 10) AS VARCHAR) || '__',"
        " '__punct_' || CAST(least(10 * n_punct // nt, 10) AS VARCHAR) || '__',"
        " '__stop_' || CAST(least(20 * n_stop // nt, 20) AS VARCHAR) || '__']"
    )
    return f"""
      SELECT doc_id,
             CAST(len(g) AS BIGINT) AS n_grams,
             CAST({fq.BIAS_MICRO} AS BIGINT) * len(g)
             + CAST(coalesce(list_sum(list_transform(g, x ->
                 W[1 + CAST(CAST('0x' || substr(md5('{fq.SALT}' || x), 1, 8)
                            AS UBIGINT) % {fq.N_BUCKETS} AS INT)])), 0) AS BIGINT)
               AS score_micro
      FROM (
        SELECT doc_id,
               t || list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
                 || flatten(list_transform(range(1, {fq.META_REPEAT} + 1),
                                           r -> {meta})) AS g
        FROM (
          SELECT doc_id, t, len(t) AS n_tok, greatest(len(t), 1) AS nt,
                 len(regexp_extract_all(text, '[^\\w \\t\\n\\x0b\\f\\r]')) AS n_punct,
                 len(list_filter(t, x -> list_contains(
                     ['the','a','of','and','to','in','is','that','for','it'], x))) AS n_stop
          FROM (SELECT doc_id, text, {_TOKS_SQL} AS t FROM ({src}))
        )
      ) CROSS JOIN (SELECT {w_sql} AS W)
    """


_T22Q_SCORED = _t22q_score_sql("SELECT doc_id, text FROM documents")


@query(
    "t22q_learned_quality_gate",
    oracle=f"""
    WITH scored AS ({_T22Q_SCORED})
    SELECT doc_id, n_grams, score_micro,
           CASE WHEN score_micro > 0 THEN 'keep' ELSE 'drop' END AS label
    FROM scored
    """,
    tags=("text", "classifier", "gate"),
)
def t22q_learned_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LEARNED quality gate (VERDICT r11 #5): a logistic-regression
    head trained on the t2 heuristic gate itself (tools/train_t22q.py
    — 0.948 train / 0.924 held-out vs 0.818 majority) over hashed word
    1+2-grams plus twelve meta-token grams (binned length, punct ratio,
    stopword share — the signals a mean-pooled bag of words cannot
    see). Frozen integer-micro weights, map-only codegen inference,
    bit-exact DuckDB replay. The c5b capstone variant filters on this
    head's sign instead of the raw t2 threshold."""
    from fhir_etl_spark.functions import ft_weights_q as fq
    from fhir_etl_spark.operators.classifier import quality_gate_scores

    documents = load_tables(spark, sf_dir, "documents")
    return quality_gate_scores(
        documents,
        fq.W_MICRO,
        fq.BIAS_MICRO,
        fq.SALT,
        meta_repeat=fq.META_REPEAT,
    )


@query(
    "t22_quality_classifier",
    oracle=f"""
    WITH w AS (SELECT {_T22_W_SQL} AS W),
    toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             t || list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS g
      FROM toks
    ), scored AS (
      SELECT doc_id,
             CAST(len(g) AS BIGINT) AS n_grams,
             CAST({_T22_BIAS} AS BIGINT) * len(g)
             + CAST(coalesce(list_sum(list_transform(g, x ->
                 W[1 + CAST(CAST('0x' || substr(md5('ft22' || x), 1, 8)
                            AS UBIGINT) % 128 AS INT)])), 0) AS BIGINT)
               AS score_micro
      FROM grams CROSS JOIN w
    )
    SELECT doc_id, n_grams, score_micro,
           CASE WHEN score_micro > 0 THEN 'en' ELSE 'other' END AS label
    FROM scored
    """,
    tags=("text", "classifier"),
)
def t22_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality-classifier INFERENCE (Joulin 2016; the
    GPT-3/CCNet/LLaMA curation filter): a frozen logistic-regression
    model over hashed word 1+2-grams scores every document; sign =
    label, |score| = margin. The model was trained offline
    (tools/train_t22.py) and frozen as integer micro literals, so the
    plan is map-only pure codegen — no join, no shuffle, no Python —
    and the oracle replays inference bit-exactly (BIGINT end to end).
    See operators/classifier.linear_classifier_scores for the scale
    contract (the weight table rides into tasks as a literal)."""
    from fhir_etl_spark.functions import ft_weights as fw
    from fhir_etl_spark.operators.classifier import linear_classifier_scores

    documents = load_tables(spark, sf_dir, "documents")
    return linear_classifier_scores(
        documents, fw.W_MICRO, fw.BIAS_MICRO, salt=fw.SALT
    )


_T23_QUERIES = (
    (1, "spark table scan"),
    (2, "vector stream merge"),
    (3, "customer query filter"),
)
_T23_Q_SQL = ", ".join(f"({i}, '{t}')" for i, t in _T23_QUERIES)
_T23_QTOKS = _TOKS_SQL.replace("text", "qtext")


def _bm25_oracle_sql(q_sql: str, k: int, corpus: str = "documents") -> str:
    """The BM25 CTE chain replayed from the RAW corpus (shared by t23 and
    the persisted-index twin t23p — replaying from raw is what makes a
    stale store value-mismatch). ``corpus`` names any relation with
    (doc_id, text) — c6 passes its chunk CTE."""
    return f"""
    WITH q(qid, qtext) AS (VALUES {q_sql}),
    toks AS MATERIALIZED (
      SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM {corpus}
    ), dl AS MATERIALIZED (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), post AS MATERIALIZED (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS MATERIALIZED (
      SELECT term, count(*) AS df FROM post GROUP BY term
    ), stats AS (
      SELECT count(*) AS n_docs,
             (1000 * CAST(sum(dl) AS BIGINT)) // count(*) AS a
      FROM dl
    ), qt AS (
      SELECT qid, unnest(list_distinct({_T23_QTOKS})) AS term FROM q
    ), qidf AS (
      SELECT qid, term, a,
             CAST(round((ln(2.0 * n_docs + 2.0)
                         - ln(2.0 * coalesce(df, 0) + 1.0)) * 1e6)
                  AS BIGINT) AS idf_micro
      FROM qt LEFT JOIN dfreq USING (term) CROSS JOIN stats
    ), scored AS (
      SELECT qid, post.doc_id,
             CAST(sum((CAST(idf_micro AS HUGEINT) * 22 * tf * a)
                      // (10 * tf * a + 3 * a + 9000 * dl))
                  AS BIGINT) AS score_micro
      FROM post
      JOIN qidf USING (term)
      JOIN dl ON dl.doc_id = post.doc_id
      GROUP BY qid, post.doc_id
    )
    SELECT qid AS query_id, doc_id, score_micro, rank FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY qid ORDER BY score_micro DESC, doc_id)
             AS INT) AS rank
      FROM scored) WHERE rank <= {k}
    """


@query(
    "t23_bm25_topk",
    oracle=_bm25_oracle_sql(_T23_Q_SQL, 10),
    tags=("text", "retrieval"),
)
def t23_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson; Lucene-positive idf): build the
    inverted index over the corpus, score three literal queries, return
    the top-10 docs per query. Integer-micro BM25 end to end — every
    DIV operand positive by construction (see operators/retrieval for
    the k1=6/5, b=3/4 clearing) — so the oracle replays ranking
    bit-exactly. Scale: index built once (two key-partial groupBys),
    query terms BROADCAST into the postings scan (the corpus never
    shuffles per query), WindowGroupLimit top-k."""
    from fhir_etl_spark.operators.retrieval import bm25_index, bm25_topk

    documents = load_tables(spark, sf_dir, "documents")
    postings, dfreq, stats = bm25_index(documents)
    queries = spark.createDataFrame(
        list(_T23_QUERIES), "query_id int, query string"
    )
    return bm25_topk(postings, dfreq, stats, queries, k=10)


# --- t24: HTML main-content extraction --------------------------------
# The page decoration is ONE shared spec rendered into both engines:
# each piece is a literal, the doc id, or the document text with
# sentence breaks turned into paragraph boundaries. The decoration
# exists so the extractor faces real boilerplate shapes — a link-only
# nav bar, script/style/comment noise, a link-dense related list, a
# mixed footer — wrapped around the fixture text (the repo's t5b
# decorate-then-operate oracle pattern).
_T24_PIECES: tuple[tuple[str, str | None], ...] = (
    ("lit", "<html><head><title>Doc "),
    ("id", None),
    ("lit", '</title><script type="text/javascript">var t = "'),
    ("id", None),
    (
        "lit",
        '";</script><style>.nav{color:#036}</style></head><body>'
        '<div class="nav"><a href="/">Home</a> <a href="/topics">All '
        'topics</a> <a href="/login">Sign in</a></div><!-- build ',
    ),
    ("id", None),
    ("lit", ' --><div id="main"><h1>Document '),
    ("id", None),
    ("lit", "</h1><p>"),
    ("text", None),
    (
        "lit",
        '</p></div><div class="related"><ul><li><a href="/r/1">Related '
        'item to click</a></li><li><a href="/r/2">More related reading '
        'here</a></li></ul></div><div class="footer"><a href="/tos">'
        'Terms of use</a> <a href="/privacy">Privacy</a> Copyright 2020 '
        "corpus.local</div></body></html>",
    ),
)


def _t24_page_col() -> F.Column:
    parts = []
    for kind, val in _T24_PIECES:
        if kind == "lit":
            parts.append(F.lit(val))
        elif kind == "id":
            parts.append(F.col("doc_id").cast("string"))
        else:
            parts.append(F.replace(F.col("text"), F.lit(". "), F.lit(".</p><p>")))
    return F.concat(*parts)


def _t24_page_sql() -> str:
    parts = []
    for kind, val in _T24_PIECES:
        if kind == "lit":
            parts.append("'" + val + "'")
        elif kind == "id":
            parts.append("CAST(doc_id AS VARCHAR)")
        else:
            parts.append("replace(text, '. ', '.</p><p>')")
    return " || ".join(parts)


def t24_extract_sql(page_select_sql: str) -> str:
    """The t24 HTML-extraction DuckDB replay, parameterized by the page
    source (``page_select_sql`` must yield ``(doc_id, html)``) so
    composed pipelines (c5) can run the identical extraction over their
    own decorated pages — one extraction spec, not two copies."""
    from fhir_etl_spark.operators.html import (
        ANCHOR_RE,
        BLOCK_SPLIT_RE,
        COMMENT_RE,
        ENTITY_MAP,
        SCRIPT_RE,
        STYLE_RE,
        TAG_RE,
        WS_RE,
    )

    vis = (
        "trim(regexp_replace(regexp_replace({src}, '" + TAG_RE + "', ' ', 'g'), '"
        + WS_RE + "', ' ', 'g'))"
    )
    # coalesce: DuckDB's array_to_string is string_agg-like — an EMPTY
    # list yields NULL where Spark's array_join yields '' (measured)
    unescape = "coalesce(array_to_string(list_transform(k, s -> s.txt), chr(10)), '')"
    for ent, ch in ENTITY_MAP:
        unescape = (
            "replace(" + unescape + ", '" + ent + "', '" + ch.replace("'", "''") + "')"
        )
    return f"""
    WITH page AS (
      {page_select_sql}
    ), blocks AS (
      SELECT doc_id,
             string_split_regex(
               regexp_replace(regexp_replace(regexp_replace(html,
                 '{SCRIPT_RE}', ' ', 'g'),
                 '{STYLE_RE}', ' ', 'g'),
                 '{COMMENT_RE}', ' ', 'g'),
               '{BLOCK_SPLIT_RE}') AS bl
      FROM page
    ), bt AS (
      SELECT doc_id,
             list_transform(bl, b -> struct_pack(
               txt := {vis.format(src="b")},
               atxt := {vis.format(
                 src="coalesce(array_to_string(regexp_extract_all(b, '"
                 + ANCHOR_RE + "', 1), ' '), '')"
               )}
             )) AS bt
      FROM blocks
    ), sc AS (
      SELECT doc_id,
             list_transform(bt, s -> struct_pack(
               txt := s.txt,
               words := CASE WHEN s.txt = '' THEN CAST(0 AS BIGINT)
                             ELSE len(string_split(s.txt, ' ')) END,
               lwords := CASE WHEN s.atxt = '' THEN CAST(0 AS BIGINT)
                              ELSE len(string_split(s.atxt, ' ')) END
             )) AS sc
      FROM bt
    ), kept AS (
      SELECT doc_id, sc,
             list_filter(sc, s -> s.words >= 5
                                  AND 100 * s.lwords <= 30 * s.words) AS k
      FROM sc
    )
    SELECT doc_id,
           {unescape} AS main_text,
           CAST(len(list_filter(sc, s -> s.words > 0)) AS BIGINT) AS n_blocks,
           CAST(len(k) AS BIGINT) AS n_kept,
           CAST(coalesce(list_sum(list_transform(k, s -> s.words)), 0)
                AS BIGINT) AS n_words
    FROM kept
    """


def _t24_oracle() -> str:
    return t24_extract_sql(
        f"SELECT doc_id, {_t24_page_sql()} AS html FROM documents"
    )


@query(
    "t24_html_extract",
    oracle=_t24_oracle(),
    tags=("text", "html", "pipeline"),
)
def t24_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction (jusText/Kohlschütter simplified to
    exact integer rules — Pomikálek 2011, Kohlschütter 2010): decorate
    each fixture document into a full page (nav bar, script/style/
    comment noise, paragraphized body, link-dense related list, mixed
    footer), then strip invisible containers, split on block tags, and
    keep blocks with ≥5 visible words and ≤30% anchor-word share. The
    oracle replays decoration + extraction verbatim (shared regex
    constants, both engines compile byte-identical patterns), so a
    wrong split, count, or keep verdict value-mismatches. Map-only pure
    codegen — the 100 TB cost is the page scan; see
    operators/html.extract_main_content."""
    from fhir_etl_spark.operators.html import extract_main_content

    documents = load_tables(spark, sf_dir, "documents")
    page = documents.select("doc_id", _t24_page_col().alias("html"))
    return extract_main_content(
        page, html_col="html", id_col="doc_id", min_words=5, link_pct=30
    )


# --- t22b: multi-class classifier inference ---------------------------
def _t22b_oracle() -> str:
    from fhir_etl_spark.functions import ft_weights_mc as fmc

    c = len(fmc.LABELS)
    w_lists = ",\n         ".join(
        "[" + ", ".join(str(v) for v in fmc.CLASS_W_MICRO[j]) + "] AS W" + str(j)
        for j in range(c)
    )
    scores = ",\n             ".join(
        f"CAST({fmc.CLASS_BIAS_MICRO[j]} AS BIGINT) * len(g)"
        f" + CAST(coalesce(list_sum(list_transform(g, x ->"
        f" W{j}[1 + CAST(CAST('0x' || substr(md5('{fmc.SALT}' || x), 1, 8)"
        f" AS UBIGINT) % {fmc.N_BUCKETS} AS INT)])), 0) AS BIGINT)"
        f" AS score_{fmc.LABELS[j]}"
        for j in range(c)
    )
    arms = []
    for j in range(c - 1):
        cond = " AND ".join(
            f"score_{fmc.LABELS[j]} >= score_{fmc.LABELS[m]}"
            for m in range(j + 1, c)
        )
        arms.append(f"WHEN {cond} THEN '{fmc.LABELS[j]}'")
    case = "CASE " + " ".join(arms) + f" ELSE '{fmc.LABELS[c - 1]}' END"
    all_scores = ", ".join(f"score_{l}" for l in fmc.LABELS)
    score_cols = ",\n           ".join(f"score_{l}" for l in fmc.LABELS)
    return f"""
    WITH w AS (SELECT {w_lists}),
    toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             t || list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS g
      FROM toks
    ), scored AS (
      SELECT doc_id,
             CAST(len(g) AS BIGINT) AS n_grams,
             {scores}
      FROM grams CROSS JOIN w
    )
    SELECT doc_id, n_grams,
           {score_cols},
           {case} AS label,
           list_sort([{all_scores}], 'DESC')[1]
             - list_sort([{all_scores}], 'DESC')[2] AS margin_micro
    FROM scored
    """


@query(
    "t22b_multiclass_classifier",
    oracle=_t22b_oracle(),
    tags=("text", "classifier"),
)
def t22b_multiclass_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class classifier INFERENCE (the fastText label head,
    Joulin 2016; VERDICT r09 gap #2): a frozen softmax-regression model
    over hashed word 1+2-grams scores every document against 5 language
    labels; argmax (first-max tie-break) labels it, top-minus-runner-up
    is the decision margin. Trained offline by tools/train_t22b.py and
    frozen as per-class integer-micro literals, so the plan is C
    map-only codegen folds over ONE materialized gram array — no join,
    no shuffle, no Python — and the oracle replays all five scores, the
    argmax chain, and the margin bit-exactly (BIGINT end to end)."""
    from fhir_etl_spark.functions import ft_weights_mc as fmc
    from fhir_etl_spark.operators.classifier import multiclass_classifier_scores

    documents = load_tables(spark, sf_dir, "documents")
    return multiclass_classifier_scores(
        documents, fmc.CLASS_W_MICRO, fmc.CLASS_BIAS_MICRO,
        salt=fmc.SALT, labels=fmc.LABELS,
    )


# --- c2: the composed WEB curation pipeline ----------------------------
def _c2_oracle() -> str:
    # tokens/punct/stopwords over the EXTRACTED text (the t24 chain is
    # nested as one subquery CTE; `kept` is referenced twice, so
    # MATERIALIZED — the chained-CTE inlining lesson)
    toks2 = (
        "list_filter(string_split_regex(main_text,"
        " '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')"
    )
    return f"""
    WITH extracted AS MATERIALIZED ({_t24_oracle()}),
    q AS (
      SELECT doc_id, main_text, n_words,
             (4*least(n_tok, 100)*nc*nt
            + 300*(nc - least(5*n_punct, nc))*nt
            + 300*least(5*n_stop, nt)*nc) / (1000*nc*nt) AS quality
      FROM (
        SELECT doc_id, main_text, n_words, n_tok, n_punct, n_stop,
               greatest(n_chars, 1) AS nc, greatest(n_tok, 1) AS nt
        FROM (
          SELECT doc_id, main_text, n_words,
                 len({toks2}) AS n_tok,
                 length(main_text) AS n_chars,
                 len(regexp_extract_all(main_text, '[^\\w \\t\\n\\x0b\\f\\r]')) AS n_punct,
                 len(list_filter({toks2},
                      x -> list_contains(['the','a','of','and','to','in','is','that','for','it'], x)))
                      AS n_stop
          FROM extracted
        )
      )
    ), kept AS MATERIALIZED (
      SELECT * FROM q WHERE quality >= 0.5 AND n_words >= 10
    ), reps AS (
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      FROM (SELECT doc_id,
                   md5(lower(trim(regexp_replace(main_text,
                       '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))) AS dg
            FROM kept)
      GROUP BY dg
    )
    SELECT r.doc_id, r.n_copies, k.n_words, k.quality
    FROM reps r JOIN kept k USING (doc_id)
    """


@query(
    "c2_web_curation_pipeline",
    oracle=_c2_oracle(),
    tags=("text", "pipeline", "html", "dedup"),
)
def c2_web_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed WEB curation recipe end to end — what a Common
    Crawl pipeline actually runs, as ONE plan: raw page (the shared t24
    decoration: nav/script/comment/footer boilerplate around the
    fixture text) → main-content extraction (t24) → quality scoring
    over the EXTRACTED prose (t2's integer-exact formula) → keep gate
    (quality ≥ 0.5 AND ≥ 10 extracted words) → exact dedup on the
    normalized extracted text (d1's min-id representative) → per-group
    (doc_id, n_copies, n_words, quality). The oracle replays every
    stage, so a regression ANYWHERE in the chain — a block mis-kept, a
    quality drift, a digest change — value-mismatches here even if each
    unit query still passes. Plan shape: extraction + scoring are one
    map-only projection; the ONLY exchange is the dedup groupBy, which
    carries the representative's scalars via min_by (r12; was a groupBy
    + a join-back that re-ran the extraction prefix)."""
    from fhir_etl_spark.operators.dedup import content_digest
    from fhir_etl_spark.operators.html import extract_main_content
    from fhir_etl_spark.operators.text import quality_score

    documents = load_tables(spark, sf_dir, "documents")
    pages = documents.select("doc_id", _t24_page_col().alias("html"))
    ex = extract_main_content(pages, min_words=5, link_pct=30)
    q = ex.select(
        "doc_id", "main_text", "n_words",
        quality_score("main_text").alias("quality"),
    )
    kept = q.where((F.col("quality") >= 0.5) & (F.col("n_words") >= 10))
    # r12 (guide §2.4): the old tail joined a per-digest reps aggregate
    # back onto `kept` — TWO consumers of the extract+score prefix on
    # different keys (no exchange reuse), so the map-dominant t24+t2
    # work executed twice and the join added a doc_id exchange. min_by
    # folds the representative's scalars into the SAME digest
    # aggregation: one exchange total, the prefix runs once, and the
    # exchange carries (digest, id, count, 2 scalars) — never text.
    # Result identical: the representative IS the min doc_id, and
    # doc_id is unique so min_by has no ties.
    return (
        kept.withColumn("_dg", content_digest(F.col("main_text")))
        .groupBy("_dg")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min_by(F.struct("n_words", "quality"), "doc_id").alias("_rep"),
        )
        .select(
            "doc_id",
            "n_copies",
            F.col("_rep.n_words").alias("n_words"),
            F.col("_rep.quality").alias("quality"),
        )
    )


# --- t25: blocklist gate ------------------------------------------------
_T25_TERMS = ("batch", "legacy", "slow")
_T25_PHRASES = ("row scan", "full table sort")


def _t25_oracle() -> str:
    terms = "[" + ", ".join(f"'{t}'" for t in sorted(_T25_TERMS)) + "]"
    phr = " + ".join(
        f"(CASE WHEN contains(lower(text), '{p}') THEN 1 ELSE 0 END)"
        for p in sorted(_T25_PHRASES)
    )
    return f"""
    SELECT doc_id, n_terms_hit, n_phrases_hit,
           (n_terms_hit > 0 OR n_phrases_hit > 0) AS blocked
    FROM (
      SELECT doc_id,
             CAST(len(list_intersect(list_transform({_TOKS_SQL}, x -> lower(x)),
                  {terms})) AS BIGINT) AS n_terms_hit,
             CAST({phr} AS BIGINT) AS n_phrases_hit
      FROM documents
    )
    """


@query("t25_blocklist_gate", oracle=_t25_oracle(), tags=("text", "filter"))
def t25_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gate (the C4 recipe's bad-word filter, Raffel 2020
    §2.2): exact lowercased-token matches for single terms (DISTINCT
    terms hit — no substring surprises) plus lowercase substring
    matches for multi-word phrases; blocked ⇔ any hit. The list here is
    drawn from the fixture vocabulary so both hit paths actually
    exercise (real deployments pass their own list — it is an operator
    parameter riding into tasks as a codegen literal; map-only, no
    join, no shuffle). Oracle replays both counts and the gate."""
    from fhir_etl_spark.operators.text import blocklist_flags

    documents = load_tables(spark, sf_dir, "documents")
    return blocklist_flags(documents, terms=_T25_TERMS, phrases=_T25_PHRASES)


# --- t26: cross-document line-level dedup -------------------------------
# Decoration: the fixture text is single-line, so each document becomes a
# multi-line "page" — a shared cookie-banner header (duplicated across ALL
# docs), a per-source tag line (duplicated across each source group), the
# content chunked 12 tokens per line (mostly unique), and a shared footer.
# The line-dedup stage must strip header/footer/source lines everywhere
# while keeping the content lines.
_T26_HEADER = "please accept cookies to continue reading this page"
_T26_FOOTER = "copyright 2020 corpus local all rights reserved"
_T26_TPL = 12  # tokens per content line


def _t26_page_col() -> F.Column:
    from fhir_etl_spark.operators.text import tokens

    t = tokens(F.col("text"))
    n_lines = ((F.size(t) + (_T26_TPL - 1)) / _T26_TPL).cast("int")
    content = F.when(
        F.size(t) > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(t, i * _T26_TPL + 1, _T26_TPL), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat_ws(
        "\n",
        F.concat(
            F.array(
                F.lit(_T26_HEADER),
                F.concat(F.lit("source: "), F.col("source")),
            ),
            content,
            F.array(F.lit(_T26_FOOTER)),
        ),
    )


def _t26_page_sql() -> str:
    # One array_to_string over the FULL line list (header + source +
    # content + footer) — the exact twin of the Spark concat_ws over
    # the concatenated arrays, so a token-less document yields NO empty
    # content line on either engine (ADVICE r10: the previous
    # ...||chr(10)||''||chr(10)... form emitted one).
    k = _T26_TPL
    return f"""
      SELECT doc_id,
             array_to_string(
               ['{_T26_HEADER}', 'source: ' || source]
               || list_transform(range(0, (len(t) + {k - 1}) // {k}),
                    i -> array_to_string(t[i * {k} + 1 : i * {k} + {k}], ' '))
               || ['{_T26_FOOTER}'], chr(10)) AS text
      FROM (SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents)
    """


def _t26_oracle() -> str:
    norm = "md5(lower(trim(regexp_replace(line, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))))"
    return f"""
    WITH page AS ({_t26_page_sql()}),
    ln AS (
      SELECT doc_id, i AS pos, ls[i] AS line, {norm.replace("line", "ls[i]")} AS d
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM page),
           unnest(generate_series(1, len(ls))) AS g(i)
    ), dup AS (
      SELECT d FROM ln GROUP BY d HAVING count(DISTINCT doc_id) >= 2
    ), agg AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM ln ANTI JOIN dup USING (d)
      GROUP BY doc_id
    )
    SELECT p.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(len(string_split(p.text, chr(10))) AS BIGINT) AS n_lines,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
    FROM page p LEFT JOIN agg a USING (doc_id)
    """


@query("t26_line_dedup", oracle=_t26_oracle(), tags=("text", "dedup", "pipeline"))
def t26_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line-level dedup (RefinedWeb line-dedup, Penedo
    2023 §3.2; CCNet paragraph-hash dedup, Wenzek 2020 §2) — the
    curation stage between HTML extraction and document-level dedup that
    strips boilerplate LINES (cookie banners, nav, footers) appearing in
    ≥2 distinct documents while keeping each document's unique prose.
    The decoration plants exactly that structure (shared header/footer,
    per-source tag line, 12-token content lines); the oracle replays
    decoration + digest + doc-frequency + reassembly, so a wrong digest,
    a kept boilerplate line, or an order-scrambled reassembly
    value-mismatches. Scale shape in operators/dedup.line_dedup: three
    keyed exchanges (digest agg, digest anti join, doc reassembly), raw
    text never shuffled twice."""
    from fhir_etl_spark.operators.dedup import line_dedup

    documents = load_tables(spark, sf_dir, "documents")
    pages = documents.select("doc_id", _t26_page_col().alias("text"))
    return line_dedup(pages, min_doc_freq=2)


# --- t23p: BM25 from the PERSISTED index --------------------------------
# A DIFFERENT query set and k than t23, and an oracle replayed from the
# RAW corpus — so a stale or mangled store value-mismatches instead of
# silently serving (the d13p staleness discipline).
_T23P_QUERIES = (
    (1, "window group sort"),
    (2, "batch row hash"),
    (3, "stream join key"),
)
_T23P_Q_SQL = ", ".join(f"({i}, '{t}')" for i, t in _T23P_QUERIES)


@query(
    "t23p_bm25_store",
    oracle=_bm25_oracle_sql(_T23P_Q_SQL, 5),
    tags=("text", "retrieval", "store"),
)
def t23p_bm25_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval from the PERSISTED inverted index
    (operators/retrieval.bm25_build_or_load — the ann_store pattern
    applied to t23): the tokenize + postings/dfreq/stats build runs once
    per (corpus fingerprint, tokenizer recipe) into snapshot-versioned
    tables; this query is the SERVE path — load the term-keyed postings
    scan, broadcast the query terms into it, WindowGroupLimit top-5.
    At 100 TB the index is written once and queried per retrieval batch
    with zero corpus-shaped work. Oracle replays from the raw corpus,
    so a stale store value-mismatches."""
    from fhir_etl_spark.operators.retrieval import bm25_build_or_load, bm25_topk

    documents = load_tables(spark, sf_dir, "documents")
    postings, dfreq, stats = bm25_build_or_load(spark, documents)
    queries = spark.createDataFrame(
        list(_T23P_QUERIES), "query_id int, query string"
    )
    return bm25_topk(postings, dfreq, stats, queries, k=5)


# --- c3: the composed LINE-curation pipeline ----------------------------
def _c3_oracle() -> str:
    toks_clean = (
        "list_filter(string_split_regex(clean_text,"
        " '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')"
    )
    return f"""
    WITH t26 AS MATERIALIZED ({_t26_oracle()}),
    q AS (
      SELECT doc_id, n_lines, n_kept, n_tok AS n_tokens,
             (4*least(n_tok, 100)*nc*nt
            + 300*(nc - least(5*n_punct, nc))*nt
            + 300*least(5*n_stop, nt)*nc) / (1000*nc*nt) AS quality
      FROM (
        SELECT doc_id, n_lines, n_kept, n_tok, n_punct, n_stop,
               greatest(n_chars, 1) AS nc, greatest(n_tok, 1) AS nt
        FROM (
          SELECT doc_id, n_lines, n_kept,
                 len({toks_clean}) AS n_tok,
                 length(clean_text) AS n_chars,
                 len(regexp_extract_all(clean_text, '[^\\w \\t\\n\\x0b\\f\\r]')) AS n_punct,
                 len(list_filter({toks_clean},
                      x -> list_contains(['the','a','of','and','to','in','is','that','for','it'], x)))
                      AS n_stop
          FROM t26
        )
      )
    )
    SELECT doc_id, n_lines, n_kept, CAST(n_tokens AS BIGINT) AS n_tokens, quality
    FROM q WHERE quality >= 0.5 AND n_tokens >= 20
    """


@query(
    "c3_line_curation_pipeline",
    oracle=_c3_oracle(),
    tags=("text", "pipeline", "dedup"),
)
def c3_line_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet/RefinedWeb page-curation recipe as ONE plan: raw
    multi-line page (the t26 decoration — boilerplate header/footer +
    source tag around chunked prose) → cross-document line dedup (t26's
    operator strips the boilerplate lines) → t2 quality scored over the
    CLEANED text (the order matters: scoring the raw page would count
    boilerplate tokens) → keep gate (quality ≥ 0.5 AND ≥ 20 surviving
    tokens). The oracle replays every stage, so a kept boilerplate
    line, a reassembly scramble, or a quality drift value-mismatches
    here even while each unit query passes. Plan shape: line dedup's
    three keyed exchanges + a map-only scoring projection — the gate
    adds zero exchanges."""
    from fhir_etl_spark.operators.dedup import line_dedup
    from fhir_etl_spark.operators.text import quality_score, token_count

    documents = load_tables(spark, sf_dir, "documents")
    pages = documents.select("doc_id", _t26_page_col().alias("text"))
    cleaned = line_dedup(pages, min_doc_freq=2)
    scored = cleaned.select(
        "doc_id",
        "n_lines",
        "n_kept",
        token_count("clean_text").cast("long").alias("n_tokens"),
        quality_score("clean_text").alias("quality"),
    )
    return scored.where((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 20))


# --- t27: sentence segmentation ------------------------------------------
# Decoration: the fixture text carries no punctuation, so terminators
# are planted deterministically — every 9th token ends '.', every 27th
# '?' (both engines build the identical decorated string).
def _t27_decorated_sql() -> str:
    return f"""
      SELECT doc_id,
             array_to_string(list_transform(range(1, len(t) + 1),
               i -> t[i] || CASE WHEN i % 27 = 0 THEN '?'
                                 WHEN i % 9 = 0 THEN '.'
                                 ELSE '' END), ' ') AS text
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    """


def _t27_decorated_col(toks_col: str = "_toks") -> F.Column:
    # takes a MATERIALIZED token column: the element_at lambda re-runs
    # its child per element, so an inline tokens(text) child would
    # re-tokenize the document once per token (the shingles lesson)
    t = F.col(toks_col)
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.size(t)),
            lambda i: F.concat(
                F.element_at(t, i),
                F.when(i % 27 == 0, "?").when(i % 9 == 0, ".").otherwise(""),
            ),
        ),
        " ",
    )


@query(
    "t27_sentence_split",
    oracle=f"""
    WITH decorated AS ({_t27_decorated_sql()}),
    sents AS (
      SELECT doc_id,
             regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+') AS ss
      FROM decorated
    ), ex AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS sent_id, trim(ss[i]) AS sentence
      FROM sents, unnest(generate_series(1, len(ss))) AS g(i)
    )
    SELECT doc_id, sent_id, sentence,
           CAST(len(list_filter(string_split_regex(sentence,
                '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens
    FROM ex WHERE sentence <> ''
    """,
    tags=("text", "segmentation"),
)
def t27_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (the grain-change step between document
    curation and sentence-level dedup/packing/alignment): plant
    terminators deterministically in the fixture text, split on the
    lookaround-free sentence pattern (terminator kept, trailing
    unterminated text kept, whitespace-only segments dropped), emit
    (doc_id, sent_id, sentence, n_tokens). The oracle replays
    decoration + extraction + numbering + token counts — a boundary
    off-by-one, a dropped tail, or a numbering shift after the empty
    filter value-mismatches. Map-only extract + one posexplode; see
    operators/text.sentence_split for the abbreviation caveat."""
    from fhir_etl_spark.operators.text import sentence_split, tokens

    documents = load_tables(spark, sf_dir, "documents")
    decorated = documents.withColumn("_toks", tokens("text")).select(
        "doc_id", _t27_decorated_col().alias("text")
    )
    return sentence_split(decorated)
