"""Text-analysis operators for training-data pipelines (north-star per
BASELINE.json): token counting, quality scoring, language ID, and document
fingerprinting — all pure Catalyst expressions over a `text` column, so
they run JVM-side at full codegen speed on 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
# Real deployments swap in bigger lists (broadcast); the operator shape
# (argmax over per-language hit counts) is what matters.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "for", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "pour", "dans"),
    "es": ("el", "la", "los", "y", "es", "no", "una", "para", "con"),
}

# Explicit ASCII whitespace class (inside a char class), used instead of
# \s on BOTH engines: Java's \s includes U+000B (vertical tab) but RE2's
# (DuckDB's) does not, so a document containing \x0b would tokenize
# differently across the oracle boundary. Same repo-wide Java/RE2
# ASCII-class parity rule as the other regexes.
ASCII_WS = r" \t\n\x0b\f\r"
WS_RUN = rf"[{ASCII_WS}]+"

# A BPE-ish word/number/punctuation segmentation: words (with optional
# leading apostrophe contraction), numbers, or single non-space symbols.
BPE_ISH_PATTERN = rf"'?[A-Za-z]+|[0-9]+|[^A-Za-z0-9{ASCII_WS}]"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (empty strings removed)."""
    return F.filter(F.split(_col(text), WS_RUN), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count via the BPE-ish regex (words + numbers +
    individual symbols) — a cheap, deterministic proxy for tokenizer cost."""
    return F.size(F.regexp_extract_all(_col(text), F.lit(BPE_ISH_PATTERN), 0))


def stopword_hits(text: Column | str, stopwords: tuple[str, ...]) -> Column:
    """Count of tokens that are in the given stopword list."""
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0, 1]: rewards mid-length documents,
    a sane punctuation ratio, and a natural stopword ratio.

    score = 0.4 * min(n_tokens/100, 1)
          + 0.3 * (1 - min(punct_ratio * 5, 1))
          + 0.3 * min(stopword_ratio * 5, 1)

    Evaluated as ONE division of exact integers, NOT rounded: summing
    three separately divided doubles left the result one ulp apart across
    engines on half-boundary scores (0.84025 → .8402 here, .8403 in
    DuckDB at sf0.1). num and den are exact in int64 (and in double —
    products stay under 2^53 for any document below ~10^6 chars × ~10^5
    tokens) and IEEE division is correctly rounded, so both engines
    produce the bit-identical double. No round(): the exact rationals
    land on decimal half-boundaries (e.g. 631/800 = .78875) where Spark
    rounds the shortest-decimal representation (HALF_UP → .7888) but
    DuckDB rounds the binary value (→ .7887) — unrounded, there is
    nothing to disagree about.
    """
    t = _col(text)
    n_tok = token_count(t).cast("long")
    n_chars = F.length(t).cast("long")
    n_punct = F.size(
        F.regexp_extract_all(t, F.lit(rf"[^\w{ASCII_WS}]"), 0)
    ).cast("long")
    n_stop = stopword_hits(t, LANG_STOPWORDS["en"]).cast("long")
    # guard denominators: counts are 0 exactly when the numerators are, so
    # substituting 1 leaves every ratio at the original formula's 0 branch
    nc = F.greatest(n_chars, F.lit(1))
    nt = F.greatest(n_tok, F.lit(1))
    num = (
        4 * F.least(n_tok, F.lit(100)) * nc * nt
        + 300 * (nc - F.least(5 * n_punct, nc)) * nt
        + 300 * F.least(5 * n_stop, nt) * nc
    )
    den = 1000 * nc * nt
    return num / den


def lang_id(text: Column | str) -> Column:
    """Language ID by stopword-hit argmax; 'und' (undetermined) when no
    language scores a hit. Deterministic tie-break: language-code order."""
    hits = {lang: stopword_hits(text, sws) for lang, sws in LANG_STOPWORDS.items()}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        expr = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def word_ngrams(toks: Column | str, n: int) -> Column:
    """Space-joined word n-grams from a token array (empty array when the
    document has fewer than ``n`` tokens). 1-indexed ``element_at`` over a
    ``sequence`` keeps the whole thing a single codegen expression — no
    explode needed until the caller wants per-gram rows."""
    t = _col(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)]),
    )
    return F.when(F.size(t) >= n, grams).otherwise(F.array().cast("array<string>"))


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021, table
    A1 — the repetition family of quality rules used to clean MassiveText):

    - ``top_bigram_frac``: occurrences of the document's most frequent word
      bigram divided by its total bigram count (high → boilerplate/spam).
    - ``dup_trigram_frac``: fraction of word trigrams that are repeats of an
      earlier trigram (``1 - distinct/total``).

    Documents with fewer than 3 tokens are dropped (signals undefined).

    Scale shape: the per-doc n-gram arrays are pure codegen expressions; the
    only shuffle is the ``(doc, bigram)`` groupBy, whose keys are doc-local
    (no global hot key, map-side partial aggregation applies). No Python in
    the plan.
    """
    toks = df.select(
        id_col, tokens(text_col).alias("_toks")
    ).where(F.size("_toks") >= 3)
    grams = toks.select(
        id_col,
        word_ngrams("_toks", 2).alias("_bi"),
        word_ngrams("_toks", 3).alias("_tri"),
    )
    per_gram = grams.select(
        id_col,
        F.round(
            1.0
            - F.size(F.array_distinct("_tri")).cast("double")
            / F.size("_tri").cast("double"),
            4,
        ).alias("dup_trigram_frac"),
        F.explode_outer("_bi").alias("_bigram"),
    ).where(F.col("_bigram").isNotNull())
    counts = per_gram.groupBy(id_col, "_bigram").agg(
        F.count("*").alias("_c"), F.max("dup_trigram_frac").alias("dup_trigram_frac")
    )
    return counts.groupBy(id_col).agg(
        F.round(F.max("_c").cast("double") / F.sum("_c").cast("double"), 4).alias(
            "top_bigram_frac"
        ),
        F.max("dup_trigram_frac").alias("dup_trigram_frac"),
    )


def gopher_char_repetition(
    df: DataFrame,
    n_top: int = 2,
    n_dup: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher's CHAR-WEIGHTED repetition rules (Rae et al. 2021 table A1
    — the metrics MassiveText actually thresholds on, complementing
    :func:`repetition_signals`' count fractions):

    - ``top{n}_char_num / word_chars``: fraction of word characters
      contained within occurrences of the document's most frequent
      ``n_top``-gram (count × the gram's word chars; ties at max count
      break to the lexicographically smallest gram). Gopher rejects
      above 0.20 for n=2.
    - ``dup{n}_covered_chars / word_chars``: fraction of word characters
      covered by ANY occurrence of a duplicated ``n_dup``-gram — the
      positional-UNION accounting (overlapping duplicate grams must not
      double-count a token), which is what distinguishes this from a
      simple duplicate-count fraction. Gopher rejects above 0.15 for
      n=5.

    Everything integer (token chars, counts, coverage sums) and the
    reject flags are integer cross-comparisons (``num·5 > den`` for
    0.20, ``num·20 > den·3`` for 0.15) — no float division anywhere, so
    a DuckDB oracle hashes exactly.

    Scale shape: per-doc gram arrays are codegen expressions; shuffles
    are the (doc, gram) groupBys and one (doc, position) distinct — all
    doc-local keys (map-side partial aggregation, no global hot key).
    The coverage join back to the token array is by doc id.
    """
    # the tokenization subtree fans out to four consumers below
    # (top-gram explode, positional-gram explode, the coverage join's
    # token-length lookup, and the final select) — checkpoint it once
    # instead of re-tokenizing the corpus per consumer (the m10/d4/
    # semdedup pattern; round-8 review finding)
    toks = df.select(
        F.col(id_col),
        tokens(text_col).alias("_toks"),
    ).select(
        id_col,
        "_toks",
        F.size("_toks").alias("n_tokens"),
        F.aggregate(
            F.transform("_toks", lambda t: F.length(t)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("word_chars"),
    ).localCheckpoint()

    # most frequent n_top-gram, char-weighted
    top_grams = toks.select(
        id_col, F.explode(word_ngrams("_toks", n_top)).alias("_g")
    )
    top = (
        top_grams.groupBy(id_col, "_g")
        .agg(F.count("*").alias("_c"))
        .groupBy(id_col)
        .agg(F.min(F.struct((-F.col("_c")).alias("_nc"), F.col("_g"))).alias("_best"))
        .select(
            id_col,
            (-F.col("_best._nc")).alias("top_count"),
            F.col("_best._g").alias("top_gram"),
            (
                (-F.col("_best._nc"))
                * F.length(F.replace(F.col("_best._g"), F.lit(" "), F.lit("")))
            ).alias("top_char_num"),
        )
    )

    # positions covered by any duplicated n_dup-gram (union semantics)
    pos_grams = toks.select(
        id_col, F.posexplode(word_ngrams("_toks", n_dup)).alias("_p", "_g")
    )
    # r12 optimization (guide §8): fold the covered positions to ONE
    # integer-set row per doc (collect_set replaces the (doc, position)
    # distinct — same exchange, doc-grain output), so the join that
    # looks up token lengths is doc-grain against the token table (AQE
    # broadcasts the position sets) instead of position-grain rows each
    # dragging the doc's token array through the join.
    dup_positions = (
        pos_grams.groupBy(id_col, "_g")
        .agg(F.collect_list("_p").alias("_ps"), F.count("*").alias("_c"))
        .where(F.col("_c") > 1)
        .select(id_col, F.explode("_ps").alias("_p"))
        .select(
            id_col,
            F.explode(F.sequence(F.col("_p") + 1, F.col("_p") + n_dup)).alias("_i"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("_i").alias("_cov"))
    )
    covered = (
        toks.select(id_col, "_toks")
        .join(dup_positions, id_col)
        .select(
            id_col,
            F.aggregate(
                "_cov",
                F.lit(0).cast("long"),
                lambda acc, i: acc + F.length(F.element_at("_toks", i)),
            ).alias("dup_covered_chars"),
        )
    )

    return (
        toks.select(id_col, "n_tokens", "word_chars")
        .join(top, id_col, "left")
        .join(covered, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "word_chars",
            F.coalesce("top_gram", F.lit("")).alias("top_gram"),
            F.coalesce("top_count", F.lit(0)).cast("long").alias("top_count"),
            F.coalesce("top_char_num", F.lit(0)).cast("long").alias("top_char_num"),
            F.coalesce("dup_covered_chars", F.lit(0)).cast("long").alias(
                "dup_covered_chars"
            ),
            # integer cross-compares of Gopher's 0.20 / 0.15 thresholds
            (F.coalesce("top_char_num", F.lit(0)) * 5 > F.col("word_chars")).alias(
                "top_gram_reject"
            ),
            (
                F.coalesce("dup_covered_chars", F.lit(0)) * 20
                > F.col("word_chars") * 3
            ).alias("dup_gram_reject"),
        )
    )


def distinctive_terms(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k most distinctive terms per document, TF-IDF-motivated but
    integer-exact: terms are ranked by term frequency DESC, then document
    frequency ASC (rare-in-corpus beats common-in-corpus at equal tf),
    then term ASC as the deterministic tiebreak. Ordering by (tf, -df) is
    rank-equivalent to tf·idf within a document for ties in tf — and,
    unlike an ln()-based score, has no cross-engine float parity risk.

    Output: ``(doc_id, term, tf, df, term_rank)``, ``term_rank`` 1..k.

    Scale shape: one shuffle for the (doc, term) tf groupBy, one for the
    corpus df groupBy over the already-deduped tf table (never the raw
    token stream), one shuffle join of tf against df on term, and a
    per-doc row_number whose ``term_rank <= k`` filter compiles to
    WindowGroupLimit (map-side top-k pre-prune before the exchange). The
    df table scales with vocabulary, not corpus size; it is deliberately
    not hardcoded-broadcast — Catalyst/AQE broadcasts it while the
    vocabulary is small and falls back to a shuffle join when it is not
    (vocabulary grows unboundedly at 100 TB).
    """
    toks = df.select(
        id_col, F.explode_outer(tokens(text_col)).alias("term")
    ).where(F.col("term").isNotNull())
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "df", "term_rank")
    )


# PII patterns shared with the DuckDB oracles — ASCII-only classes per the
# Java/RE2 parity rule (no \d, no unicode word boundaries in char classes).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
PII_IP = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"


def pii_scrub(
    df: DataFrame, text_col: str = "text", redacted_col: str = "clean_text"
) -> DataFrame:
    """Detect-and-redact PII (emails, +CC-prefixed phone numbers, IPv4
    addresses) — the standard pre-training scrub pass. Adds per-document
    match counts (``n_emails``/``n_phones``/``n_ips``, counted BEFORE
    redaction) and the redacted text. The email pattern requires an
    alphabetic TLD, so a numeric-host address like ``bob@10.0.0.1`` is
    not an email match — its host is still caught by the IP pass
    (→ ``bob@<IP>``), which is the safe failure direction for a scrub.

    Pure codegen (regexp_extract_all + chained regexp_replace): no
    shuffle, no Python — scrubbing 100 TB is a map-only scan.
    """
    t = _col(text_col)
    counted = df.withColumns(
        {
            "n_emails": F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), 0)),
            "n_phones": F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), 0)),
            "n_ips": F.size(F.regexp_extract_all(t, F.lit(PII_IP), 0)),
        }
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
        ),
        PII_IP,
        "<IP>",
    )
    return counted.withColumn(redacted_col, clean)


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set. Identical token bags → identical fingerprint, robust to
    token order — the cheap first pass before MinHash."""
    normalized = F.array_join(F.array_sort(F.array_distinct(tokens(text))), " ")
    return F.md5(normalized)


def lm_cross_entropy(
    documents: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Per-document cross-entropy under the corpus's own add-one-smoothed
    bigram LM → (id, n_bigrams, xent). The CCNet/KenLM-style quality
    signal: improbable token transitions ⇒ high xent ⇒ filter or
    down-weight before training. Integer counts make per-row
    probabilities deterministic (value-oracled as t12).

    Shape: one bigram explode, two count aggs, the small distinct-bigram
    LM table scored first, ONE join of the full bigram stream, one
    doc-level agg (see queries/text.t12 for the shuffle accounting)."""
    from pyspark.sql import functions as F

    toks = F.split(text_col, " ")
    bigrams = documents.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))).alias(
            "i", "w1"
        ),
        toks.alias("_t"),
    ).select("_id", "w1", F.expr("_t[i + 1]").alias("w2"))
    bi = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    # c1 (bigram-start count) = Σ_w2 c12 BY DEFINITION — derive it from
    # the bigram table instead of re-aggregating the full bigram stream:
    # one whole tokenize+explode pass over the corpus disappears, and
    # the (w1, w2) exchange is computed once and REUSED by every
    # consumer (r13, guide §2.4 — aggregate once, reuse the partials).
    uni = bi.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = uni.agg(F.count("*").alias("v"))
    neg_logp = -F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))
    lm = (
        bi.join(uni, "w1")
        .crossJoin(F.broadcast(v))
        .select("w1", "w2", neg_logp.alias("_nlp"))
    )
    return (
        bigrams.join(lm, ["w1", "w2"])
        .groupBy("_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg("_nlp"), 4).alias("xent"),
        )
        .withColumnRenamed("_id", id_col)
    )


def chunk_documents(
    documents: "DataFrame",
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Split documents into overlapping token windows — the
    context-window prep step for RAG indexing and fixed-length training
    examples. Chunk k starts at k·stride (stride = chunk_tokens −
    overlap) and takes ``chunk_tokens`` tokens; a trailing start is
    emitted only when it contributes tokens beyond the previous chunk
    (start < n − overlap), so no chunk is a suffix-duplicate of its
    predecessor. Empty docs emit nothing.

    Output: (id, chunk_index, chunk_start, n_chunk_tokens, chunk_text).
    Map-only: one codegen sequence + posexplode per doc, no shuffle —
    at 100 TB this is a pure scan-side transform. Pairs with
    dedup.chunk_dedup (which dedups non-overlapping chunks corpus-wide)
    and packing.pack_sequences downstream."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toked = documents.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")
    )
    n = F.size("_t")
    starts = F.filter(
        F.transform(
            F.when(n > 0, F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int")))
            .otherwise(F.array().cast("array<int>")),
            lambda k: k * stride,
        ),
        lambda s: (s == 0) | (s < n - overlap),
    )
    return (
        toked.select("_id", "_t", F.posexplode(starts).alias("_k", "_s"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_k").cast("int").alias("chunk_index"),
            F.col("_s").cast("long").alias("chunk_start"),
            F.least(F.lit(chunk_tokens), F.size("_t") - F.col("_s"))
            .cast("long")
            .alias("n_chunk_tokens"),
            F.concat_ws(
                " ", F.slice("_t", F.col("_s") + 1, chunk_tokens)
            ).alias("chunk_text"),
        )
    )


def compression_ratio(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> "DataFrame":
    """(id, n_bytes, z_bytes, z_ratio): deflate size over raw UTF-8 size —
    the Gopher/Dolma-style redundancy signal (highly repetitive or
    templated documents compress far below natural text's ~0.3–0.5;
    random/encrypted blobs sit near 1.0). Curation gates on a band, not a
    single threshold.

    zlib at a FIXED level is deterministic for a given library build, so
    the metric is reproducible run to run; it has no SQL twin (the t15
    gate query is rows-only by nature) — the semantics are pinned by unit
    tests on constructed texts instead. Arrow-batched mapInPandas; the
    per-row cost is one deflate pass, embarrassingly parallel."""
    import zlib

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("n_bytes", T.LongType()),
            T.StructField("z_bytes", T.LongType()),
            T.StructField("z_ratio", T.DoubleType()),
        ]
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                raw = ("" if text is None else str(text)).encode("utf-8")
                z = len(zlib.compress(raw, level))
                rows.append(
                    (rid, len(raw), z, round(z / len(raw), 6) if raw else None)
                )
            yield pd.DataFrame(rows, columns=[id_col, "n_bytes", "z_bytes", "z_ratio"])

    return df.select(id_col, text_col).mapInPandas(batches, out_schema)


def quantile_buckets(
    df: "DataFrame",
    score_col: str,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    out_col: str = "bucket",
) -> "DataFrame":
    """Split rows into k equal-count buckets by a (quantized) score — the
    CCNet head/middle/tail convention: ``labels[0]`` gets the LOWEST
    scores. Cut i is the smallest score whose cumulative count reaches
    ``ceil(i*n/k)``; every row with the same score gets the same label
    (ties never straddle a cut, unlike ntile's arbitrary within-tie
    split — which is also what makes the assignment a pure function of
    the score multiset, independent of row order and partitioning).

    Scale shape: the quantile scan runs on the score HISTOGRAM, not the
    corpus — groupBy(score) with map-side partial aggregation, then a
    cumulative window over the (small) distinct-score table and a
    broadcast of the k-1 cuts back onto the corpus, which is labeled
    map-side. The single-partition window is bounded by the number of
    DISTINCT scores, so the score must be quantized (e.g. xent rounded
    to 4 dp ⇒ ≤ ~2e5 distinct values for any corpus size); a raw float
    score would funnel ~n rows through one task — that is the caller's
    contract to uphold.
    """
    from pyspark.sql import Window

    k = len(labels)
    if k < 2:
        raise ValueError("quantile_buckets: need at least 2 labels")
    hist = df.groupBy(score_col).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.orderBy(score_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("_cum", F.sum("_c").over(w))
    tot = df.agg(F.count(F.lit(1)).alias("_n"))
    cuts = cum.crossJoin(F.broadcast(tot)).agg(
        *[
            F.min(
                F.when(
                    F.col("_cum")
                    >= F.floor((F.lit(i) * F.col("_n") + F.lit(k - 1)) / F.lit(float(k))),
                    F.col(score_col),
                )
            ).alias(f"_cut{i}")
            for i in range(1, k)
        ]
    )
    # Loud-NULL convention (matches ewma/holt): a NULL score would fall
    # through every `<= cut` (NULL comparison) into the tail label —
    # silent misclassification of unscorable rows. Fail instead.
    lab = F.when(
        F.col(score_col).isNull(),
        F.raise_error(
            F.lit(
                "quantile_buckets: NULL score — filter unscorable rows "
                "before bucketing"
            )
        ),
    ).when(F.col(score_col) <= F.col("_cut1"), labels[0])
    for i in range(2, k):
        lab = lab.when(F.col(score_col) <= F.col(f"_cut{i}"), labels[i - 1])
    lab = lab.otherwise(labels[-1])
    return df.crossJoin(F.broadcast(cuts)).select(*df.columns, lab.alias(out_col))


def collocation_lift(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_tokens_per_doc: int = 32,
    min_pair_docs: int = 3,
    top_k: int = 100,
) -> DataFrame:
    """Collocation mining by document-level LIFT in exact integer micro
    units — the market-basket association measure
    ``lift(a,b) = N·df(a,b) / (df(a)·df(b))`` over per-document token
    sets, emitted as ``(N · df_ab · 10⁶) // (df_a · df_b)`` so every
    value derives from BIGINT counts with one integer division: no
    float, no log, bit-exact in any engine (the PMI log transform is
    monotone in lift, so the RANKING is PMI's ranking — without
    cross-engine ``ln`` ulp risk).

    Scale shape: each doc contributes at most ``top_tokens_per_doc``
    distinct tokens (rank by in-doc count desc, token asc — a window
    INSIDE the doc, map-side after the explode groupBy), so the per-doc
    pair fan-out is bounded at T·(T−1)/2 regardless of document length
    — the standard guard that keeps pair mining from going quadratic on
    long docs. Pair and token doc-frequencies are two groupBys over the
    SAME capped sets (lift's numerator and denominator must come from
    one universe or rare-token lifts overshoot); the final top-k is one
    TakeOrdered-size window.

    Returns (token_a, token_b, pair_docs, docs_a, docs_b, lift_micro,
    rank) — rank 1..top_k by (lift_micro desc, token_a, token_b).
    """
    if top_tokens_per_doc < 2:
        raise ValueError("collocation_lift: top_tokens_per_doc must be >= 2")
    tok_counts = (
        df.select(F.col(id_col).alias("_doc"), F.explode(tokens(text_col)).alias("_t"))
        .groupBy("_doc", "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy("_doc").orderBy(F.desc("_c"), F.col("_t"))
    capped = (
        tok_counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_tokens_per_doc)
        .select("_doc", "_t")
    )
    n_docs = df.select(F.countDistinct(id_col).alias("_n"))
    tok_df = capped.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    pairs = (
        capped.alias("x")
        .join(capped.alias("y"), "_doc")
        .where(F.col("x._t") < F.col("y._t"))
        .groupBy(F.col("x._t").alias("_a"), F.col("y._t").alias("_b"))
        .agg(F.count(F.lit(1)).alias("_ab"))
        .filter(F.col("_ab") >= min_pair_docs)
    )
    # doc-frequency joins shuffle on the token key (the vocabulary is
    # corpus-scale at 100 TB — NOT broadcastable); only the 1-row doc
    # count broadcasts. lift_micro uses integer DIV, never float
    # division: (N · df_ab · 10⁶) fits a BIGINT at any real corpus size
    # (≤ 9.2e18 needs N·df_ab ≤ 9.2e12) and DIV matches DuckDB's //
    # exactly, where a double division could round across the floor
    # boundary.
    dfa = tok_df.select(F.col("_t").alias("_a"), F.col("_df").alias("_dfa"))
    dfb = tok_df.select(F.col("_t").alias("_b"), F.col("_df").alias("_dfb"))
    scored = (
        pairs.join(dfa, "_a")
        .join(dfb, "_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("_a").alias("token_a"),
            F.col("_b").alias("token_b"),
            F.col("_ab").alias("pair_docs"),
            F.col("_dfa").alias("docs_a"),
            F.col("_dfb").alias("docs_b"),
            F.expr(
                "(_n * _ab * CAST(1000000 AS BIGINT)) DIV (_dfa * _dfb)"
            ).alias("lift_micro"),
        )
    )
    wk = Window.orderBy(F.desc("lift_micro"), "token_a", "token_b")
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= top_k)
    )


# Unicode script ranges as explicit regex char classes — identical
# semantics in Java regex (Spark, UTF-16) and RE2 (DuckDB, UTF-8) for
# BMP ranges, verified by the t20 oracle. Latin includes the
# Latin-1/Extended-A/B supplements (é, ü, ș…); CJK is the unified
# ideographs block.
SCRIPT_CLASSES: dict[str, str] = {
    "latin": "[A-Za-zÀ-ɏ]",
    "cyrillic": "[Ѐ-ӿ]",
    "cjk": "[一-鿿]",
    "arabic": "[؀-ۿ]",
}


def script_columns(text: Column) -> tuple[dict[str, Column], Column]:
    """Per-script char counts + the dominant-script pick as reusable
    COLUMNS (ties → alphabetical, zero everywhere → 'und' — the t3
    convention). Shared by :func:`script_profile` and the c1 curation
    pipeline so both compute the identical expressions."""
    counts = {
        name: F.regexp_count(text, F.lit(cls)).cast("long")
        for name, cls in SCRIPT_CLASSES.items()
    }
    best = F.greatest(*counts.values())
    script = F.lit("und")
    # reversed alphabetical build so the FIRST alphabetical winner ends
    # up outermost
    for name in sorted(counts, reverse=True):
        script = F.when((counts[name] > 0) & (counts[name] == best), name).otherwise(
            script
        )
    return counts, script


def script_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode script detection — the multilingual-corpus routing signal
    language-ID models assume you already have (a CJK doc should never
    reach a Latin-stopword classifier like t3's): per document, count
    characters in each script's range with ``regexp_count`` (pure
    codegen — no per-character lambda, no Python) and pick the dominant
    script (ties → alphabetical, zero everywhere → 'und').

    All counts are integers and the classes are explicit BMP ranges, so
    Java regex and RE2 agree exactly — the oracle replays every count.
    Map-only projection; at 100 TB this is one codegen scan.

    Returns (id_col, n_chars, latin, cyrillic, cjk, arabic, script).
    """
    counts, script = script_columns(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        *[counts[n].alias(n) for n in SCRIPT_CLASSES],
        script.alias("script"),
    )


def stupid_backoff_score(
    documents: "DataFrame",
    reference: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Per-document stupid-backoff bigram LM score (Brants et al. 2007,
    "Large Language Models in Machine Translation" — THE web-scale LM:
    no normalization, no discounting, a fixed 0.4 backoff factor,
    chosen because at corpus scale it matches Kneser-Ney within noise
    at a fraction of the cost). The model trains on ``reference`` and
    scores ``documents``:

    - seen bigram:  ``term = C_ref(w1 w2) / C_ref(w1 ·)``
    - unseen:       ``term = 0.4 · C_ref(w2) / N_ref``  (0 if w2 unseen)

    Every term is emitted in EXACT integer micro units —
    ``(C12 · 10⁶) DIV C1`` and ``(2 · C2 · 10⁶) DIV (5 · N)`` (0.4 =
    2/5) — so the per-doc sum is a BIGINT and the whole score
    value-oracles with zero float steps. Output: (id, n_bigrams,
    n_backoff, score_micro); higher = more in-domain, n_backoff is the
    out-of-vocabulary-transition diagnostic.

    Shape: reference counts are two groupBys over the reference subset;
    the document bigram stream joins the bigram LM on (w1, w2) and the
    unigram table on w2 — two full-stream shuffles, inherent for the
    same reason as t12's (each position needs both lookups), then one
    doc-level agg. Same ``split(text, ' ')`` tokenization as the t10/t12
    LM family."""
    toks = F.split(text_col, " ")

    def bigram_stream(df: "DataFrame") -> "DataFrame":
        return df.select(
            F.col(id_col).alias("_id"),
            F.posexplode(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
            ).alias("i", "w1"),
            toks.alias("_t"),
        ).select("_id", "w1", F.expr("_t[i + 1]").alias("w2"))

    ref_bi = bigram_stream(reference)
    c12 = ref_bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c12"))
    # c1 (bigram-start count) = Σ_w2 c12 by definition — derived from
    # the bigram table, not a second aggregation of the full reference
    # bigram stream (r13; same trick as lm_cross_entropy — the (w1,w2)
    # exchange computes once and is reused).
    c1 = c12.groupBy("w1").agg(F.sum("_c12").alias("_c1"))
    lm = c12.join(c1, "w1").selectExpr(
        "w1", "w2", "(_c12 * CAST(1000000 AS BIGINT)) DIV _c1 AS _seen_micro"
    )
    # unigram backoff table over reference TOKENS (not bigram starts):
    # N = total tokens, C(w2) = token count
    ref_uni = reference.select(
        F.explode(F.split(text_col, " ")).alias("_w")
    )
    # N = Σ per-doc token counts — a map-only size() aggregate over the
    # reference scan (r13); identical to counting the exploded token
    # rows (split('') yields [''] on both paths), without the explode.
    # A NULL text explodes to no tokens, but size(NULL) is -1 when ANSI
    # mode is off, so NULL rows are kept out of the sum explicitly.
    n_ref_row = reference.agg(
        F.sum(
            F.when(F.col(text_col).isNotNull(), F.size(F.split(text_col, " ")))
        ).alias("_n")
    ).first()
    n_ref = int(n_ref_row["_n"] or 0)  # one bounded scalar action
    if n_ref == 0:
        raise ValueError("stupid_backoff_score: empty reference corpus")
    uni = ref_uni.groupBy("_w").agg(F.count(F.lit(1)).alias("_c2")).selectExpr(
        "_w AS w2",
        f"(2 * _c2 * CAST(1000000 AS BIGINT)) DIV (5 * CAST({n_ref} AS BIGINT)) "
        "AS _back_micro",
    )
    scored = (
        bigram_stream(documents)
        .join(lm, ["w1", "w2"], "left")
        .join(uni, "w2", "left")
        .select(
            "_id",
            F.coalesce(
                F.col("_seen_micro"),
                F.col("_back_micro"),
                F.lit(0).cast("long"),
            ).alias("_term"),
            F.col("_seen_micro").isNull().cast("long").alias("_is_backoff"),
        )
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("_is_backoff").alias("n_backoff"),
            F.sum("_term").alias("score_micro"),
        )
        .withColumnRenamed("_id", id_col)
    )


def nfkc_fold(text: Column | str) -> Column:
    """NFKC-class normalization from the FROZEN mapping tables in
    functions/unicode_fold (VERDICT r08 #5): ligature expansion
    (replace chain), then width folding + confusable homoglyphs +
    combining-mark stripping in ONE ``translate`` — two engine-native
    string ops, pure codegen, replayed exactly by DuckDB's
    Postgres-semantics ``replace``/``translate`` (both per-codepoint,
    both delete a from-char with no to-counterpart)."""
    from fhir_etl_spark.functions.unicode_fold import (
        LIGATURES,
        TRANSLATE_FROM,
        TRANSLATE_TO,
    )

    c = _col(text)
    for k, v in LIGATURES.items():
        c = F.replace(c, F.lit(k), F.lit(v))
    return F.translate(c, TRANSLATE_FROM, TRANSLATE_TO)


def blocklist_flags(
    df: DataFrame,
    terms: tuple[str, ...],
    phrases: tuple[str, ...] = (),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocklist filtering (the C4 recipe's bad-word gate, Raffel 2020
    §2.2: drop any page containing a listed term) →
    (id, n_terms_hit, n_phrases_hit, blocked).

    - ``terms``: single tokens, matched EXACTLY against the document's
      lowercased token set (no substring surprises: 'class' never
      matches a blocklisted 'ass') — ``array_intersect`` against a
      literal array, so the count is DISTINCT terms hit;
    - ``phrases``: multi-word entries, matched as lowercase substring
      ``contains`` (the phrase crosses token boundaries by
      construction);
    - ``blocked`` ⇔ any hit of either kind.

    Scale shape: map-only pure codegen — the blocklist rides into every
    task as a literal array + a contains chain; no join, no shuffle, no
    Python. Real blocklists are O(100–1000) entries, far below literal-
    plan limits (the hilbert/v11 precedent). All counts BIGINT, so the
    DuckDB oracle replays exactly."""
    if not terms and not phrases:
        raise ValueError("blocklist_flags: empty blocklist")
    lterms = sorted({t.lower() for t in terms})
    lphrases = sorted({p.lower() for p in phrases})
    if any(" " in t for t in lterms):
        raise ValueError(
            "blocklist_flags: multi-word entries belong in `phrases`"
        )
    toks_lower = F.transform(tokens(_col(text_col)), lambda t: F.lower(t))
    n_terms = (
        F.size(
            F.array_intersect(
                toks_lower, F.array(*[F.lit(t) for t in lterms])
            )
        ).cast("long")
        if lterms
        else F.lit(0).cast("long")
    )
    low = F.lower(_col(text_col))
    n_phrases = (
        _sum_longs(
            [
                F.when(low.contains(p), F.lit(1)).otherwise(F.lit(0))
                for p in lphrases
            ]
        )
        if lphrases
        else F.lit(0).cast("long")
    )
    return df.select(
        F.col(id_col),
        n_terms.alias("n_terms_hit"),
        n_phrases.alias("n_phrases_hit"),
        ((n_terms > 0) | (n_phrases > 0)).alias("blocked"),
    )


def _sum_longs(cols: list[Column]) -> Column:
    out = cols[0].cast("long")
    for c in cols[1:]:
        out = out + c.cast("long")
    return out


SENTENCE_PATTERN = r"[^.!?]+[.!?]+|[^.!?]+"


def sentence_split(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rule-based sentence segmentation → one row per sentence:
    ``(id_col, sent_id, sentence, n_tokens)``, position-preserving
    (0-based), terminator kept with its sentence, unterminated trailing
    text kept as a final sentence, whitespace-only segments dropped
    AFTER numbering (both engines replay the same rule).

    The pattern is deliberately lookaround-free (``[^.!?]+[.!?]+`` with
    a bare-tail alternative) so Java regex and RE2 compile the same
    automaton — the repo-wide Java/RE2 parity rule; a lookbehind split
    (``(?<=[.!?])\\s+``) would be un-oracle-able. Known rule-based
    limitation, stated: abbreviations split ("e.g. x" → three
    sentences) — production splitters carry abbreviation lists, which
    are an additive post-filter over this exact output, not a different
    plan shape.

    Scale: map-only extract + one posexplode — the grain-change step
    between document-level curation and sentence-level dedup/packing;
    the sentence stream shuffles only if the CONSUMER groups it.
    """
    sents = F.regexp_extract_all(_col(text_col), F.lit(SENTENCE_PATTERN), 0)
    return (
        df.select(
            F.col(id_col),
            F.posexplode(sents).alias("sent_id", "_raw"),
        )
        .select(
            id_col,
            F.col("sent_id").cast("int"),
            F.trim(F.col("_raw")).alias("sentence"),
        )
        .where(F.col("sentence") != "")
        .withColumn("n_tokens", token_count("sentence").cast("long"))
    )
