"""BM25 ranked retrieval over a document corpus (Robertson/Spärck Jones
probabilistic relevance; the Lucene-practical variant) — the retrieval
step a training-data pipeline runs for decontamination-by-retrieval,
hard-negative mining, and seed-document expansion.

Exactness contract (the repo-wide integer-micro discipline): with
k1 = 6/5 and b = 3/4 fixed, per-(query-term, doc)

    idf_micro   = round(1e6 · (ln(2N + 2) − ln(2·df + 1)))      ≥ 0
    contrib     = (idf_micro · 22 · tf · A)
                  DIV (10 · tf · A + 3 · A + 9000 · dl)
    score_micro = Σ_terms contrib

where A = (1000 · L) DIV N is the corpus's average document length in
milli-tokens (one bounded aggregate), dl the document's token count,
L total tokens, N total docs. Every operand is positive, so DIV is
identical across engines (trunc == floor for positives). Width
envelope (ADVICE r09): the NUMERATOR is computed at DECIMAL(38,0) /
HUGEINT width — at deployment scale it exceeds int64 (idf_micro ~2.4e7
· 22 · tf ~4e4 · A ~5e5 ≈ 1e19 > 2^63) and a silent Spark wrap would
corrupt ranking where DuckDB errors. The DENOMINATOR stays BIGINT: it
wraps only past tf · A ≈ 9e17 — a ~10⁹-token single-term document in a
~10⁶-token-average corpus — far outside any real document (dl and tf
are bounded by the tokenizer's input size); the contrib itself is
≤ idf_micro · 22/10 ≈ 5e7, always BIGINT-safe. The
only float op is one ln per distinct term over exactly-representable
integer arguments, rounded at the 1e-6 grain (the DSIR quantization
argument — see operators/datasets.dsir_bucket_weights). Lucene's
idf = ln(1 + (N − df + ½)/(df + ½)) = ln(2N + 2) − ln(2df + 1) is
used precisely because it is ALWAYS positive: a classic-BM25 negative
idf would make trunc and floor division disagree cross-engine.

Scale shape: the index build is ONE explode + two partial-aggregated
groupBys (postings on (doc, term), df on term) — at deployment the
postings land in a term-bucketed table written once and queried many
times. Query scoring BROADCASTS the query-term table (queries are
small by definition) into the postings scan, so the corpus never
shuffles per query; the only per-query exchange carries candidate
(query, doc) partial scores, already collapsed by map-side combine.
Top-k is a rank-≤-k window (WindowGroupLimit: per-partition heads,
never a full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fhir_etl_spark.operators.text import tokens

IDF_MICRO = 1_000_000


def bm25_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the BM25 inverted index: ``(postings, dfreq, stats)``.

    - ``postings``: (id, term, tf, dl) — one row per distinct term per
      doc; ``dl`` (the doc's token count) is denormalized onto the
      posting so scoring never joins back to the corpus.
    - ``dfreq``: (term, df) — document frequencies.
    - ``stats``: single row (n_docs, total_tokens, avgdl_milli) —
      bounded by construction, broadcast into scoring.
    """
    # dl (the doc's token count) is known MAP-SIDE before the explode —
    # carry it WITH each token row instead of re-aggregating the full
    # token stream and joining back (the ngram_jaccard_pairs carried-
    # size trick): this removes one token-stream-sized aggregation AND
    # the postings⋈dl shuffle join (r12 — measured 22.4 → 13.9 s cold
    # for the v16 sparse arm at sf10-shape). dl rides in the grouping
    # key (functionally dependent on id — zero extra groups); stats is
    # a 1-row map-side-combined aggregate over the corpus scan, no
    # exchange. explode_outer + isNotNull: the inner-explode inferred
    # size()>0 filter would re-inline the tokenizer below the
    # projection (the doc_shingles lesson).
    toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_t"))
    toks = toked.select(
        "id", F.size("_t").alias("dl"), F.explode_outer("_t").alias("term")
    ).where(F.col("term").isNotNull())
    postings = (
        toks.groupBy("id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("id", "term", "tf", "dl")
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = (
        toked.where(F.size("_t") > 0)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("_t")).alias("total_tokens"),
        )
        .select(
            "n_docs",
            "total_tokens",
            F.expr("(1000 * total_tokens) div n_docs").alias("avgdl_milli"),
        )
    )
    return postings, dfreq, stats


def bm25_topk(
    postings: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    query_text_col: str = "query",
) -> DataFrame:
    """Score ``queries`` (id, text) against a built index; return the
    top-``k`` (query_id, doc_id, score_micro, rank) per query,
    deterministic tie-break on doc id. Duplicate terms within one query
    are collapsed (each distinct term scores once — note in the module
    docstring; weight a term by repeating documents, not queries)."""
    qterms = queries.select(
        F.col(query_id_col).alias("qid"),
        F.explode(F.array_distinct(tokens(query_text_col))).alias("term"),
    )
    # idf per query term: join the (small) query-term set against the
    # term-keyed df table, then broadcast the enriched term list into
    # the postings scan — the corpus side never shuffles per query.
    qidf = (
        qterms.join(dfreq, "term", "left")
        .crossJoin(F.broadcast(stats.select("n_docs", "avgdl_milli")))
        .select(
            "qid",
            "term",
            "avgdl_milli",
            F.round(
                (
                    F.log(2.0 * F.col("n_docs") + 2.0)
                    - F.log(2.0 * F.coalesce(F.col("df"), F.lit(0)) + 1.0)
                )
                * IDF_MICRO
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    scored = (
        postings.join(F.broadcast(qidf), "term")
        .select(
            "qid",
            F.col("id").alias("doc_id"),
            # ADVICE r09: the numerator can exceed int64 at deployment
            # scale (idf_micro ~2.4e7 at billions of docs × 22 × a
            # spammy doc's tf ~4e4 × avgdl_milli ~5e5 ≈ 1e19 > 2^63) —
            # Spark non-ANSI would silently wrap negative while DuckDB
            # errors, breaking both ranking and the cross-engine
            # contract. Widen the numerator to DECIMAL(38,0) (exact to
            # 1e38; the real product tops out ~1e21) — `div` on a
            # decimal is still integral division returning BIGINT, and
            # every operand stays positive so trunc == floor holds on
            # both engines (the oracle widens identically via HUGEINT).
            # The denominator stays BIGINT: it needs tf·avgdl_milli
            # ~9e17 to wrap (a ~1e9-token doc of one term in a corpus
            # averaging ~1e6 tokens/doc) — asserted envelope, see
            # module docstring.
            F.expr(
                "(CAST(idf_micro AS DECIMAL(38,0)) * 22 * tf * avgdl_milli)"
                " div (10 * tf * avgdl_milli + 3 * avgdl_milli + 9000 * dl)"
            ).alias("contrib_micro"),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("contrib_micro").alias("score_micro"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"), "doc_id", "score_micro", "rank"
        )
    )


def bm25_build_or_load(
    spark,
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    store_dir: str | None = None,
    fingerprint: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``bm25_index`` behind a fingerprint-keyed PERSISTED store (the
    ann_store / suffix-array-store pattern): the index build — the
    explode + two corpus-wide groupBys — runs ONCE per (corpus,
    tokenizer recipe) and commits (postings, dfreq, stats) as
    snapshot-versioned tables; every later caller loads the tables and
    goes straight to query scoring (broadcast terms into the postings
    SCAN). At 100 TB this is the difference between re-tokenizing the
    corpus per retrieval batch and reading a term-keyed index.

    Serve-path cost contract (ADVICE r10): with ``fingerprint=None``
    this function RE-SCANS the corpus once per call to compute the
    content fingerprint — that is the freshness check, not index work,
    but it is still corpus-shaped I/O. A production serve path that
    already knows its corpus version should pass ``fingerprint=`` (the
    value persisted at build/publish time); then the serve plan is
    exactly one meta-row read + the postings scan, with zero
    corpus-shaped work. The registry query t23p deliberately keeps the
    rescan so a mutated corpus value-mismatches its oracle.

    Commit protocol: the three data tables commit first, the meta row
    LAST — readers trust the store only when the meta key matches, so a
    crash mid-publish leaves no meta and the next caller rebuilds (the
    suffix-array store's marker discipline). Cache identity is the
    corpus CONTENT fingerprint + recipe, so a changed/added/removed
    document rebuilds and a hash-collision cross-check rides in meta.
    Returns store-backed DataFrames on hit AND after a fresh build (the
    served plan is the store scan in both cases — identical plans, and
    the build's lineage is released)."""
    import hashlib
    import json
    import os

    from fhir_etl_spark.operators.dedup import corpus_text_fingerprint
    from fhir_etl_spark.sinks.versioned import (
        ConcurrentWriteError,
        read_snapshot,
        warehouse_dir,
        write_snapshot,
    )

    root = store_dir or warehouse_dir("bm25_index")
    fp = fingerprint or corpus_text_fingerprint(documents, id_col, text_col)
    params = {"tokenizer": "ws-v1", "layout": "bm25-v1"}
    key_src = json.dumps({"fp": fp, "params": params}, sort_keys=True)
    key = hashlib.sha256(key_src.encode()).hexdigest()[:16]
    base = os.path.join(root, f"bm25-{key}")
    parts = ("postings", "dfreq", "stats")

    def _read_all() -> tuple[DataFrame, DataFrame, DataFrame]:
        p, d, s = (read_snapshot(spark, f"{base}-{n}") for n in parts)
        return p, d, s

    try:
        meta_rows = read_snapshot(spark, f"{base}-meta").collect()
        if len(meta_rows) == 1 and meta_rows[0]["key_src"] == key_src:
            return _read_all()
        # key collision or mangled store: fall through to rebuild
    except FileNotFoundError:
        pass
    postings, _, _ = bm25_index(documents, text_col=text_col, id_col=id_col)
    try:
        # postings first; dfreq/stats then derive FROM the committed
        # postings scan (dl rides denormalized on every posting), so the
        # corpus tokenizes exactly once at build time.
        write_snapshot(postings, f"{base}-postings", mode="overwrite", max_retries=2)
        p_store = read_snapshot(spark, f"{base}-postings")
        dfreq = p_store.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        dl = p_store.groupBy("id").agg(F.first("dl").alias("dl"))
        stats = dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_tokens"),
        ).select(
            "n_docs",
            "total_tokens",
            F.expr("(1000 * total_tokens) div n_docs").alias("avgdl_milli"),
        )
        write_snapshot(dfreq, f"{base}-dfreq", mode="overwrite", max_retries=2)
        write_snapshot(stats, f"{base}-stats", mode="overwrite", max_retries=2)
        meta = spark.createDataFrame([(key_src,)], "key_src string").coalesce(1)
        write_snapshot(meta, f"{base}-meta", mode="overwrite", max_retries=2)
    except ConcurrentWriteError:
        pass  # a racer committed the same deterministic build
    return _read_all()
