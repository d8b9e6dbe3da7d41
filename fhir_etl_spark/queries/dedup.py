"""Dedup inventory over the `documents` table.

Exact dedup and exact n-gram Jaccard carry full DuckDB oracles. MinHash /
SimHash / LSH are hash-dependent (xxhash64 has no DuckDB twin), so their
*internal consistency* is oracled instead where possible and the driver
records rows-only checks for the rest — the unit tests in
tests/test_dedup.py carry the semantic assertions (known near-dup pairs
found, disjoint docs not found).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir_etl_spark.operators.dedup import (
    cdc_chunk_dedup,
    chunk_dedup,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_jaccard,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from fhir_etl_spark.queries.registry import get_query, query
from fhir_etl_spark.session import load_tables

_NORM_SQL = "md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))))"


@query(
    "d1_exact_dedup",
    oracle=f"""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY {_NORM_SQL}
    """,
    tags=("dedup",),
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized content digest; min(doc_id) representative."""
    documents = load_tables(spark, sf_dir, "documents")
    return exact_dedup(documents)


@query(
    "d2_dup_groups",
    oracle=f"""
    SELECT digest, count(*) AS n_copies,
           array_to_string(list_sort(list(doc_id)), ',') AS members
    FROM (SELECT doc_id, {_NORM_SQL} AS digest FROM documents)
    GROUP BY digest
    HAVING count(*) > 1
    """,
    tags=("dedup", "agg"),
)
def d2_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups (digest, copy count, sorted member list)."""
    documents = load_tables(spark, sf_dir, "documents")
    from fhir_etl_spark.operators.dedup import content_digest

    return (
        documents.withColumn("digest", content_digest(F.col("text")))
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_copies"),
            F.concat_ws(
                ",",
                F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")),
            ).alias("members"),
        )
        .filter(F.col("n_copies") > 1)
    )


@query(
    "d3_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS shingle
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
      WHERE len(t) >= 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a, b, round(inter / (sa.n + sb.n - inter), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = a
               JOIN sizes sb ON sb.doc_id = b
    WHERE round(inter / (sa.n + sb.n - inter), 4) >= 0.5
    """,
    tags=("dedup", "join"),
)
def d3_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs at threshold 0.5 — the
    ground-truth verifier that LSH candidates are checked against."""
    documents = load_tables(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(documents, threshold=0.5)


@query(
    "d3p_jaccard_prefix_filter",
    # the SAME exact-Jaccard oracle as d3: the prefix filter is lossless
    # (AllPairs lemma), so a single missed or phantom pair — i.e. any
    # bug in the prefix-length arithmetic, the global order, or the
    # verify join — value-mismatches against ground truth
    oracle=get_query("d3_ngram_jaccard").oracle,
    tags=("dedup", "join", "prefix-filter"),
)
def d3p_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d3's exact answer through the PREFIX-FILTERED miner
    (operators/dedup.ngram_jaccard_pairs_prefix — AllPairs/PPJoin
    candidate bound + exact array_intersect verify): the 100 TB path
    c4/c5 route through, oracled against the strategy-independent
    exact-Jaccard SQL so losslessness is checked every round."""
    documents = load_tables(spark, sf_dir, "documents")
    from fhir_etl_spark.operators.dedup import ngram_jaccard_pairs_prefix

    return ngram_jaccard_pairs_prefix(documents, threshold=0.5)


@query(
    "d6_dedup_clusters",
    oracle="""
    WITH pairs AS (
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t
        FROM documents
      ), sh AS (
        SELECT DISTINCT doc_id, concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS shingle
        FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
        WHERE len(t) >= 3
      ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT a, b FROM inter
        JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE round(inter / (sa.n + sb.n - inter), 4) >= 0.5
    ), edges AS (
      SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs
    ), reach AS (
      -- transitive closure of (node, reachable-label); min per node = the
      -- component's smallest id (edges are bidirectional)
      WITH RECURSIVE r(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.label FROM edges e JOIN r ON e.dst = r.node
      ) SELECT * FROM r
    )
    SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    """,
    tags=("dedup", "graph"),
)
def d6_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: exact-Jaccard pairs (d3) → connected components
    via distributed min-label propagation; oracle = recursive-CTE transitive
    closure in DuckDB."""
    from fhir_etl_spark.operators.dedup import dedup_clusters

    documents = load_tables(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(documents, threshold=0.5)
    return dedup_clusters(pairs)


@query(
    "d7_heavy_hitters",
    oracle="""
    SELECT l_partkey, count(*) AS freq FROM lineitem
    GROUP BY l_partkey ORDER BY freq DESC, l_partkey LIMIT 10
    """,
    tags=("agg", "sketch"),
)
def d7_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (the CMS verification ground truth,
    operators/sketch.py)."""
    from fhir_etl_spark.operators.sketch import heavy_hitters_exact

    lineitem = load_tables(spark, sf_dir, "lineitem")
    return heavy_hitters_exact(lineitem, "l_partkey", k=10)


# --- d4 oracle: md5-twin MinHash ------------------------------------------
# MinHash needs SOME total order per hash function; min() over md5 hex
# strings is one BOTH engines compute identically (the F1 content_uuid3
# trick, functions/identity.py). The gate query therefore runs the operator
# with hash_fn='md5' and the oracle replays every stage — shingles,
# 32 min-aggregates, 8-band bucketing, candidate pairs, agreement fraction
# — in DuckDB SQL. Production default stays xxhash64 (BIGINT, faster).
_NH, _BANDS, _RPB = 32, 8, 4
def _mh_hex_half(start: int) -> str:
    """DuckDB replay of Spark's conv(substr(md5, start, 8), 16, 10): an
    8-nibble hex parse (DuckDB has no conv(); the d5 oracle pioneered the
    strpos-nibble trick). ≤ 2³²−1, so plain BIGINT arithmetic."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {start + j}, 1)) - 1)::BIGINT"
        f" * {16 ** (7 - j)}"
        for j in range(8)
    )


# Round 12: the affine MinHash family (one md5 per shingle, halves h1/h2,
# h_i = h1 + i·h2 — Kirsch–Mitzenmacher double hashing, the datasketch
# scheme) replaces the 32-seeded-md5 form: the Spark side hashes each
# shingle string ONCE instead of 32 times (the measured dominant cost of
# the whole MinHash tier at the sf10 shape), and the oracle replays the
# identical integer minima.
_MH_HALVES = (
    f"SELECT doc_id, {_mh_hex_half(1)} AS h1, {_mh_hex_half(9)} AS h2\n"
    "      FROM (SELECT doc_id, md5(shingle) AS hx FROM sh)"
)
_MH_AGGS = ",\n             ".join(
    f"min(h1 + {i} * h2) AS h{i}" for i in range(_NH)
)
_BAND_SELECTS = "\n      UNION ALL ".join(
    # h{i} are BIGINTs; CAST matches Spark's long→string exactly
    "SELECT doc_id, {b} AS band, md5(concat_ws('|', {cols})) AS bucket FROM sig".format(
        b=b,
        cols=", ".join(
            f"CAST(h{i} AS VARCHAR)" for i in range(b * _RPB, (b + 1) * _RPB)
        ),
    )
    for b in range(_BANDS)
)
_AGREE = " + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(_NH))
_D4_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS shingle
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
      WHERE len(t) >= 3
    ), shh AS (
      {_MH_HALVES}
    ), sig AS (
      SELECT doc_id, {_MH_AGGS}
      FROM shh GROUP BY doc_id
    ), banded AS (
      {_BAND_SELECTS}
    ), pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    )
    SELECT p.a, p.b, round(({_AGREE}) / {_NH}.0, 4) AS jaccard_est
    FROM pairs p JOIN sig sa ON sa.doc_id = p.a JOIN sig sb ON sb.doc_id = p.b
    """


@query("d4x_minhash_lsh_xxh64", oracle=None, tags=("dedup", "approx", "bench"))
def d4x_minhash_lsh_xxh64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The xxhash64 PRODUCTION MinHash+LSH pipeline (the computation
    BENCH_r01–r03 measured under the name d4_minhash_lsh; renamed when d4
    switched to the md5-twin hash to gain a value oracle). Rows-only by
    nature — xxhash64 has no DuckDB twin — and kept out of the gate's
    rotation window; semantics pinned by tests/test_dedup_semantics.py."""
    documents = load_tables(spark, sf_dir, "documents")
    sigs = minhash_signatures(documents).localCheckpoint()
    pairs = lsh_candidate_pairs(sigs)
    return minhash_jaccard(sigs, pairs)


_D12_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS shingle
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
      WHERE len(t) >= 3
    ), shh AS (
      {_MH_HALVES}
    ), sig AS (
      SELECT doc_id, {_MH_AGGS}
      FROM shh GROUP BY doc_id
    ), content AS (
      {_BAND_SELECTS}
    ), banded AS (
      -- sentinel singleton rows for docs too short to shingle (band -1
      -- can never collide with a content band) keep the verdict
      -- contract TOTAL over all documents
      SELECT * FROM content
      UNION ALL
      SELECT doc_id, -1 AS band, CAST(doc_id AS VARCHAR) AS bucket
      FROM toks WHERE len(t) < 3
    ), mins AS (
      SELECT band, bucket, min(doc_id) AS m FROM banded GROUP BY band, bucket
    ), flagged AS (
      SELECT DISTINCT banded.doc_id
      FROM banded JOIN mins USING (band, bucket)
      WHERE banded.doc_id > mins.m
    )
    SELECT d.doc_id, f.doc_id IS NULL AS kept
    FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
    """


@query("d12_lsh_bucket_keepers", oracle=_D12_ORACLE, tags=("dedup", "approx"))
def d12_lsh_bucket_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 addition: DIRECT bucket-collision dedup verdicts off the
    banded LSH index — (doc_id, kept), dropped iff some occupied bucket
    holds a smaller id. No pair enumeration (a degenerate bucket costs
    O(d), not O(d²)), deliberately non-transitive, and a pure function
    of the index table — the property that makes it the read side of
    an incrementally-maintained dedup index (per-batch index rows union
    bit-exactly into the whole-corpus index). md5-twin hash here so
    DuckDB replays every stage. Verdicts are
    TOTAL over documents — docs too short to shingle ride sentinel
    singleton buckets (operators/dedup.doc_band_index) and read back
    kept=true."""
    from fhir_etl_spark.operators.dedup import doc_band_index, lsh_bucket_keepers

    documents = load_tables(spark, sf_dir, "documents")
    return lsh_bucket_keepers(doc_band_index(documents, hash_fn="md5"))


@query("d4_minhash_lsh", oracle=_D4_ORACLE, tags=("dedup", "approx"))
def d4_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) → LSH(8 bands × 4 rows) candidate pairs with estimated
    Jaccard, run with the md5-twin hash so DuckDB can replay every stage
    (same estimator as the xxhash64 production default — MinHash is
    hash-agnostic given a total order). Recall semantics are additionally
    pinned by tests/test_dedup_semantics.py against d3's exact pairs."""
    documents = load_tables(spark, sf_dir, "documents")
    # signatures feed three plan branches (banding + both sides of the
    # jaccard join); localCheckpoint materializes the shingle pass exactly
    # once (cache() raced the three branches — unstable timings measured)
    sigs = minhash_signatures(documents, hash_fn="md5").localCheckpoint()
    pairs = lsh_candidate_pairs(sigs, hash_fn="md5")
    return minhash_jaccard(sigs, pairs)


# --- d5 oracle: md5-twin SimHash ------------------------------------------
# SimHash needs an arbitrary-but-fixed 64-bit hash per token; the md5 twin
# takes bit b%4 of hex nibble b//4 (conv() in Spark, strpos() in DuckDB —
# identical values on lowercase hex). Sign-aggregate and bit-pack are plain
# integer math both engines replay exactly. Bit 63 packs as the min-long
# literal: DuckDB raises on 1::BIGINT << 63, and adding disjoint powers
# equals Spark's bitwiseOR pack (two's complement for the sign bit).
_D5_NIBBLES = ",\n             ".join(
    f"strpos('0123456789abcdef', substr(hx, {i + 1}, 1)) - 1 AS n{i}"
    for i in range(16)
)
_D5_SUMS = ",\n             ".join(
    f"sum(CASE WHEN ((n{b // 4} >> {b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(64)
)
_D5_PACK = "\n           + ".join(
    f"CASE WHEN b{b} > 0 THEN "
    + (f"CAST(1 AS BIGINT) << {b}" if b < 63 else "CAST(-9223372036854775808 AS BIGINT)")
    + " ELSE CAST(0 AS BIGINT) END"
    for b in range(64)
)
_D5_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(t) AS tok FROM toks
    ), nib AS (
      SELECT doc_id, {_D5_NIBBLES}
      FROM (SELECT doc_id, md5(tok) AS hx FROM tok)
    ), bs AS (
      SELECT doc_id, {_D5_SUMS}
      FROM nib GROUP BY doc_id
    )
    SELECT doc_id, ({_D5_PACK}) AS simhash FROM bs
    """


@query("d5_simhash", oracle=_D5_ORACLE, tags=("dedup", "approx"))
def d5_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document, md5-twin bit assignment so DuckDB
    replays the full sign-aggregate + bit-pack (see _D5_ORACLE). The
    xxhash64 production default is pinned by distance tests instead."""
    documents = load_tables(spark, sf_dir, "documents")
    return simhash(documents, hash_fn="md5")


@query(
    "d9_chunk_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    ), chunks AS (
      SELECT doc_id, CAST(k AS INT) AS pos,
             array_to_string(tokens[k*10+1 : k*10+10], ' ') AS chunk
      FROM toks,
           UNNEST(generate_series(0, CAST(ceil(len(tokens)/10.0) AS BIGINT) - 1)) AS t(k)
    ), keepers AS (
      SELECT chunk, min(doc_id) AS keeper FROM chunks GROUP BY chunk
    ), marked AS (
      SELECT c.doc_id, c.pos, c.chunk, (c.doc_id = s.keeper) AS keep
      FROM chunks c JOIN keepers s USING (chunk)
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY pos), '')
             AS clean_text,
           CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
    FROM marked GROUP BY doc_id
    """,
    tags=("dedup", "text"),
)
def d9_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage removal: each distinct 10-token
    chunk survives only in its lowest-id document (operators/dedup.py
    chunk_dedup; RefinedWeb-style line dedup on a line-less corpus)."""
    docs = load_tables(spark, sf_dir, "documents")
    return chunk_dedup(docs, chunk_tokens=10)


# --- d15: content-defined chunk dedup -------------------------------------
# The boundary hash is the md5 low half (_mh_hex_half replays Spark's
# conv(substr(md5, 1, 8), 16, 10)); w=2, divisor=8 → ~8-token expected
# chunks. The oracle replays boundary detection, chunk slicing, the
# keeper election, and the positional reassembly end to end.
_D15_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, i, md5(array_to_string(t[i-1:i], ' ')) AS hx
      FROM toks, unnest(generate_series(2, len(t) - 1)) AS s(i)
      WHERE len(t) >= 3
    ), cuts AS (
      SELECT doc_id, i FROM g WHERE ({_mh_hex_half(1)}) % 8 = 0
    ), bounded AS (
      SELECT toks.doc_id, t,
             list_concat(list_concat([0], coalesce(cs.cs, [])), [len(t)]) AS bounds
      FROM toks LEFT JOIN (
        SELECT doc_id, list_sort(list(i)) AS cs FROM cuts GROUP BY doc_id
      ) cs ON toks.doc_id = cs.doc_id
    ), chunks AS (
      SELECT doc_id, CAST(j - 1 AS INT) AS pos,
             array_to_string(t[bounds[j]+1 : bounds[j+1]], ' ') AS chunk
      FROM bounded, unnest(generate_series(1, len(bounds) - 1)) AS u(j)
      WHERE len(t) > 0
    ), keepers AS (
      SELECT chunk, min(doc_id) AS keeper FROM chunks GROUP BY chunk
    ), marked AS (
      SELECT c.doc_id, c.pos, c.chunk, (c.doc_id = k.keeper) AS keep
      FROM chunks c JOIN keepers k USING (chunk)
    ), reb AS (
      SELECT doc_id,
             string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY pos) AS clean_text,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
             CAST(count(*) AS BIGINT) AS n_chunks
      FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(reb.clean_text, '') AS clean_text,
           coalesce(reb.n_removed, 0) AS n_removed,
           coalesce(reb.n_chunks, 0) AS n_chunks
    FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id
    """


@query("d15_cdc_chunk_dedup", oracle=_D15_ORACLE, tags=("dedup", "text"))
def d15_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup (LBFS/FastCDC boundaries on the token
    stream): a boundary falls where the 2-gram ending at a position
    hashes ≡ 0 mod 8, so chunking RESYNCS after an insertion and the
    shared tail of a near-copy still collapses — the property
    fixed-width d9 structurally lacks (operators/dedup.cdc_chunk_dedup;
    resync pinned by tests/test_cdc_chunking.py). Same keeper policy and
    exchange count as d9; boundary detection itself is map-only."""
    docs = load_tables(spark, sf_dir, "documents")
    return cdc_chunk_dedup(docs, w=2, divisor=8)


# --- g2 oracle: unrolled fixed-iteration PageRank -------------------------
# The g2 edge list is SYMMETRIZED (every near-dup pair contributes both
# orientations), so every node has out-edges and the dangling term is
# exactly 0.0 on both engines — the one scale-dependent scalar drops out
# and the remaining per-iteration math (rank/out_deg shipped along edges,
# summed per dst, damped) is replayable as an unrolled CTE chain. in_mass
# sums run over a node's near-dup neighbors (small in-degree), so float
# summation-order skew is far below the 1e-6 rounding grain.
_G2_PAIRS = """
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t
        FROM documents
      ), sh AS (
        SELECT DISTINCT doc_id, concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS shingle
        FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
        WHERE len(t) >= 3
      ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT a, b FROM inter
        JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE round(inter / (sa.n + sb.n - inter), 4) >= 0.5
"""
_G2_ITERS = "".join(
    f""", r{it} AS (
      SELECT n.node,
             (1.0 - 0.85) / (SELECT n FROM nn)
               + 0.85 * coalesce(m.in_mass, 0.0) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank / d.out_deg) AS in_mass
        FROM edges e JOIN r{it - 1} r ON e.src = r.node
                     JOIN deg d ON d.src = e.src
        GROUP BY e.dst
      ) m ON m.node = n.node
    )"""
    for it in range(1, 6)
)
_G2_ORACLE = f"""
    WITH pairs AS ({_G2_PAIRS}
    ), edges AS (
      SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
    ), deg AS (
      SELECT src, count(*) AS out_deg FROM edges GROUP BY src
    ), nn AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
    ), r0 AS (
      SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
    ){_G2_ITERS}
    SELECT node, round(rank, 6) AS rank_r FROM r5
    """


@query("g2_pagerank", oracle=_G2_ORACLE, tags=("graph", "iterative"))
def g2_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup pair graph (which documents
    sit at the center of duplicate clusters). Fixed 5-iteration run;
    the symmetrized edge list has zero dangling mass, so the oracle
    replays the iterations exactly (see _G2_ORACLE above); the analytic
    small-graph test additionally pins the math
    (operators/graph.pagerank)."""
    from fhir_etl_spark.operators.graph import pagerank

    documents = load_tables(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(documents, threshold=0.5)
    edges = pairs.selectExpr("a AS src", "b AS dst").unionByName(
        pairs.selectExpr("b AS src", "a AS dst")
    )
    return pagerank(edges, n_iterations=5).select(
        "node", F.round("rank", 6).alias("rank_r")
    )


def _exactsubstr_oracle(k: int) -> str:
    """The k-gram ExactSubstr replay, parameterized by gram width — the
    value oracle for d10 (k=8), d13 (same), and d13p (k=6: the persisted
    depths table answering a DIFFERENT threshold with no rebuild)."""
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, i, array_to_string(t[i:i+{k - 1}], ' ') AS g
      FROM toks, unnest(generate_series(1, len(t) - {k - 1})) AS s(i)
      WHERE len(t) >= {k}
    ), dups AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
    ), cov AS (
      SELECT DISTINCT doc_id, p
      FROM (SELECT doc_id, i FROM grams WHERE g IN (SELECT g FROM dups)),
           unnest(generate_series(i, i + {k - 1})) AS c(p)
    ), kept AS (
      SELECT toks.doc_id, u.p, t[u.p] AS w
      FROM toks, unnest(generate_series(1, len(t))) AS u(p)
      WHERE NOT EXISTS (SELECT 1 FROM cov
                        WHERE cov.doc_id = toks.doc_id AND cov.p = u.p)
    ), reb AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS clean_text,
             count(*) AS kept_n
      FROM kept GROUP BY doc_id
    )
    SELECT toks.doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - coalesce(kept_n, 0) AS BIGINT) AS n_removed,
           coalesce(clean_text, '') AS clean_text
    FROM toks LEFT JOIN reb ON toks.doc_id = reb.doc_id
    """


_EXACTSUBSTR_ORACLE = _exactsubstr_oracle(8)


@query(
    "d10_substring_dedup",
    oracle=_EXACTSUBSTR_ORACLE,
    tags=("dedup", "text"),
)
def d10_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring removal (ExactSubstr, Lee et al. 2022) at
    8-token granularity: any 8-gram occurring ≥2 times anywhere in the
    corpus is deleted from every document. ~9% of the sf0.01 corpus's
    token mass is duplicated under this policy. gram_key='text' keeps the
    raw gram as the shuffle key so the oracle replays the pipeline;
    production uses gram_key='hash' (16-byte double-xxhash64 keys — documented
    swap, same as chunk_dedup)."""
    from fhir_etl_spark.operators.dedup import substring_dedup

    documents = load_tables(spark, sf_dir, "documents")
    return substring_dedup(documents, k=8, gram_key="text")


@query(
    "d13_suffix_array_dedup",
    oracle=_EXACTSUBSTR_ORACLE,
    tags=("dedup", "text", "suffix-array"),
)
def d13_suffix_array_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr via the DISTRIBUTED SUFFIX ARRAY (Lee et al. 2022's
    actual structure; prefix doubling + LCP walk, Flick & Aluru 2015) at
    the same ≥ 8-token policy as d10 — and oracled by the SAME SQL,
    because the outputs are provably identical at matching thresholds
    (a position lies in a duplicated ≥ k substring iff it lies in a
    duplicated k-gram), making the k-gram replay a value-exact oracle
    for the SA build, the rank tables, and the LCP walk end to end.
    What the SA buys at 100 TB: shuffle rows of small integers instead
    of k-token gram strings, and per-suffix TRUE longest-duplicate
    lengths so one build answers every threshold. See
    operators/dedup.suffix_array_dedup for the build shape."""
    from fhir_etl_spark.operators.dedup import suffix_array_dedup

    documents = load_tables(spark, sf_dir, "documents")
    return suffix_array_dedup(documents, min_len=8)


_G3_ORACLE = f"""
    WITH pairs AS ({_G2_PAIRS}
    ), tri AS (
      -- pairs carry a < b, so x < y < z names each triangle exactly once
      SELECT p1.a AS x, p1.b AS y, p2.b AS z
      FROM pairs p1
      JOIN pairs p2 ON p2.a = p1.b
      JOIN pairs p3 ON p3.a = p1.a AND p3.b = p2.b
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY node
    """


@query("g3_triangle_count", oracle=_G3_ORACLE, tags=("graph",))
def g3_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the near-dup pair graph — the
    clustering-coefficient numerator, and the standard probe for whether
    near-dup components are cliques (boilerplate families) or chains
    (drifting revisions). Degree-oriented wedge enumeration
    (operators/graph.triangle_counts) keeps the self-join sub-quadratic
    on any degree distribution; the oracle enumerates ordered triples
    x<y<z directly."""
    from fhir_etl_spark.operators.graph import triangle_counts

    documents = load_tables(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(documents, threshold=0.5)
    edges = pairs.selectExpr("a AS src", "b AS dst")
    return triangle_counts(edges)


_G4_ORACLE = f"""
    WITH pairs AS ({_G2_PAIRS}
    ), edges AS (
      SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
    ), srcs AS (
      SELECT doc_id AS node FROM documents WHERE doc_id % 50 = 0
    ), reach AS (
      WITH RECURSIVE rr(node, dist) AS (
        SELECT node, 0 FROM srcs
        UNION
        SELECT e.dst, rr.dist + 1
        FROM rr JOIN edges e ON e.src = rr.node
        WHERE rr.dist < 5
      ) SELECT * FROM rr
    )
    SELECT node, CAST(min(dist) AS INT) AS dist FROM reach GROUP BY node
    """


@query("g4_bfs_hops", oracle=_G4_ORACLE, tags=("graph", "iterative"))
def g4_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the near-dup graph: hop distance from a
    seed set (every 50th doc) — the 'how far does contamination spread
    through duplicate chains' query. Frontier-based iteration
    (operators/graph.bfs_hops) joins only the new wave per round; the
    oracle is the bounded recursive-CTE transitive closure with min-dist
    per node."""
    from fhir_etl_spark.operators.graph import bfs_hops

    documents = load_tables(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(documents, threshold=0.5)
    edges = pairs.selectExpr("a AS src", "b AS dst").unionByName(
        pairs.selectExpr("b AS src", "a AS dst")
    )
    sources = documents.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("node")
    )
    return bfs_hops(edges, sources, max_hops=5)


# --- g5 oracle: 3 synchronous LPA rounds over the near-dup graph ----------
# Each round references the previous labels twice (votes + keep-previous
# fallback) — MATERIALIZED, or DuckDB re-inlines the chain exponentially
# (the ds5/t13 lesson).
_G5_ITERS = "".join(
    f""", l{it} AS MATERIALIZED (
      SELECT l.node, coalesce(w.community, l.community) AS community
      FROM l{it - 1} l LEFT JOIN (
        SELECT node, community FROM (
          SELECT v.node, v.community,
                 row_number() OVER (PARTITION BY v.node
                                    ORDER BY v.c DESC, v.community) AS rn
          FROM (
            SELECT e.dst AS node, p.community, count(*) AS c
            FROM edges e JOIN l{it - 1} p ON p.node = e.src
            GROUP BY e.dst, p.community
          ) v
        ) WHERE rn = 1
      ) w ON w.node = l.node
    )"""
    for it in range(1, 4)
)
_G5_ORACLE = f"""
    WITH pairs AS MATERIALIZED ({_G2_PAIRS}
    ), edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS community FROM edges
    ){_G5_ITERS}
    SELECT node, community FROM l3
    """


@query("g5_label_propagation", oracle=_G5_ORACLE, tags=("graph", "iterative"))
def g5_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the near-dup pair graph: 3 synchronous
    majority-vote label-propagation rounds (deterministic min-label
    tie-break). Complements d6's connected components (reachability) and
    g2's PageRank (centrality) with the group-structure view; all-integer
    labels make the CTE replay exact. See operators/graph.
    label_propagation for the per-iteration scale shape."""
    from fhir_etl_spark.operators.graph import label_propagation

    documents = load_tables(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(documents, threshold=0.5)
    edges = pairs.selectExpr("a AS src", "b AS dst").unionByName(
        pairs.selectExpr("b AS src", "a AS dst")
    )
    return label_propagation(edges, n_iterations=3)


def _g6_oracle(k: int = 3, rounds: int = 16) -> str:
    """Peeling replayed over a FIXED horizon: each round recomputes
    degrees over edges whose BOTH endpoints survived the previous round
    and keeps nodes with degree >= k. Idempotent after the fixed point,
    so the horizon only needs to exceed the worst SF's convergence
    (10 rounds at sf0.01; the Spark operator early-stops and RAISES if
    max_rounds is ever actually insufficient)."""
    parts = [
        """
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), und AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT x.l_partkey AS a, y.l_partkey AS b
        FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
                           AND x.l_partkey < y.l_partkey
        GROUP BY x.l_partkey, y.l_partkey HAVING count(*) >= 2
      )
      UNION
      SELECT b, a FROM (
        SELECT x.l_partkey AS a, y.l_partkey AS b
        FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
                           AND x.l_partkey < y.l_partkey
        GROUP BY x.l_partkey, y.l_partkey HAVING count(*) >= 2
      )
    ), surv_0 AS MATERIALIZED (
      SELECT DISTINCT a AS node FROM und
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""", surv_{r} AS MATERIALIZED (
      SELECT a AS node FROM und
      WHERE a IN (SELECT node FROM surv_{r - 1})
        AND b IN (SELECT node FROM surv_{r - 1})
      GROUP BY a HAVING count(*) >= {k}
    )""")
    parts.append(f"""
    SELECT a AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM und
    WHERE a IN (SELECT node FROM surv_{rounds})
      AND b IN (SELECT node FROM surv_{rounds})
    GROUP BY a
    """)
    return "".join(parts)


@query("g6_k_core", oracle=_g6_oracle(), tags=("graph", "iterative"))
def g6_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph (parts sharing >= 2 orders):
    iterative peeling until the fixed point — 10 genuine rounds at
    sf0.01 (the whole graph dissolves at sf0.1; 0 rounds at sf0.001),
    so the driver row exercises real data-dependent iteration. The
    oracle replays a fixed 16-round horizon (idempotent once
    converged); see operators/graph.k_core for the per-round shape
    (two semi joins + one degree agg, checkpointed lineage, bounded
    early-stop probe)."""
    from fhir_etl_spark.operators.graph import k_core

    lineitem = load_tables(spark, sf_dir, "lineitem")
    li = lineitem.select("l_orderkey", "l_partkey").distinct()
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(
            F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("src", "dst")
    )
    return k_core(pairs, k=3, max_rounds=16)


@query(
    "d13p_suffix_array_store",
    oracle=_exactsubstr_oracle(6),
    tags=("dedup", "text", "suffix-array", "store"),
)
def d13p_suffix_array_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr answered from the PERSISTED suffix array (round-10:
    the d13 build committed once per corpus to a snapshot-versioned
    store keyed by content fingerprint — the ann_store pattern), at a
    DIFFERENT threshold than d13 (min_len=6 vs 8): the oracle replays
    the 6-gram pipeline from the raw corpus, so a stale store, a wrong
    fingerprint hit, or a depths-table corruption all value-mismatch.
    The query-only path is a filter over the stored depths + the
    interval-merge/reassembly tail — ZERO prefix-doubling rounds
    (plan-pinned in tests/test_suffix_array_store.py). See
    operators/dedup.suffix_array_build_or_load."""
    from fhir_etl_spark.operators.dedup import (
        suffix_array_build_or_load,
        suffix_array_dedup_from_store,
    )

    documents = load_tables(spark, sf_dir, "documents")
    depths = suffix_array_build_or_load(spark, documents)
    return suffix_array_dedup_from_store(spark, documents, depths, min_len=6)


# --- c4: the fuzzy-dedup canonicalization pipeline -----------------------
def _c4_oracle() -> str:
    from fhir_etl_spark.queries.registry import get_query

    d6_sql = get_query("d6_dedup_clusters").oracle
    toks = (
        "list_filter(string_split_regex(text,"
        " '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')"
    )
    return f"""
    WITH clusters AS MATERIALIZED ({d6_sql}),
    q AS MATERIALIZED (
      SELECT doc_id,
             (4*least(n_tok, 100)*nc*nt
            + 300*(nc - least(5*n_punct, nc))*nt
            + 300*least(5*n_stop, nt)*nc) / (1000*nc*nt) AS quality
      FROM (
        SELECT doc_id, n_tok, n_punct, n_stop,
               greatest(n_chars, 1) AS nc, greatest(n_tok, 1) AS nt
        FROM (
          SELECT doc_id,
                 len({toks}) AS n_tok,
                 length(text) AS n_chars,
                 len(regexp_extract_all(text, '[^\\w \\t\\n\\x0b\\f\\r]')) AS n_punct,
                 len(list_filter({toks},
                      x -> list_contains(['the','a','of','and','to','in','is','that','for','it'], x)))
                      AS n_stop
          FROM documents
        )
      )
    ), winners AS (
      SELECT doc_id, CAST(cnt AS BIGINT) AS cluster_size, quality FROM (
        SELECT c.doc_id, m.quality,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY m.quality DESC, c.doc_id) AS rn,
               count(*) OVER (PARTITION BY c.cluster_id) AS cnt
        FROM clusters c JOIN q m ON m.doc_id = c.doc_id
      ) WHERE rn = 1
    )
    SELECT doc_id, cluster_size, quality FROM winners
    UNION ALL
    SELECT q.doc_id, CAST(1 AS BIGINT) AS cluster_size, q.quality
    FROM q ANTI JOIN clusters USING (doc_id)
    """


@query(
    "c4_fuzzy_dedup_pipeline",
    oracle=_c4_oracle(),
    tags=("dedup", "pipeline", "graph"),
)
def c4_fuzzy_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-dedup canonicalization recipe end to end (the
    SlimPajama/RefinedWeb near-dup stage as ONE plan): exact-Jaccard
    near-dup pairs (d3) → connected components (d6) → keep the
    HIGHEST-QUALITY member of each duplicate cluster (t2 score,
    doc-id tie-break) → union the untouched singletons. Output one row
    per SURVIVING document: (doc_id, cluster_size, quality) —
    cluster_size 1 marks docs that matched nothing. The oracle replays
    pair mining, the recursive-CTE closure, scoring, and the winner
    window, so a wrong component, a lost singleton, or a wrong keeper
    value-mismatches. Scale: the pair/CC stages only ever touch docs
    that matched something (≪ corpus); the winner window partitions by
    cluster (WindowGroupLimit shape); the singleton path is one anti
    join on the (small) clustered-id set. Pair mining stays on the
    posting-list exact miner: the r12 prefix-filtered variant (d3p)
    was A/B-measured 4.3× slower here at sf10-shape with 5.5× the
    shuffle (two extra corpus-linear exchanges buy the removal of a
    quadratic term this corpus's density doesn't make dominant) —
    d3p remains the exactness-preserving route for cap-binding
    hot-shingle corpora. SCALE.md r12."""
    from pyspark.sql import Window

    from fhir_etl_spark.operators.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs_prefix,
    )
    from fhir_etl_spark.operators.text import quality_score

    documents = load_tables(spark, sf_dir, "documents")
    clusters = dedup_clusters(ngram_jaccard_pairs(documents, threshold=0.5))
    quality = documents.select(
        "doc_id", quality_score("text").alias("quality")
    )
    members = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    winners = (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc).cast("long"))
        .where(F.col("rn") == 1)
        .select("doc_id", "cluster_size", "quality")
    )
    singletons = quality.join(
        clusters.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.lit(1).cast("long").alias("cluster_size"), "quality")
    return winners.unionByName(singletons)
