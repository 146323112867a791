"""Deduplication queries over documents (SURVEY.md §2.3).

Exact, MinHash-LSH, SimHash, and n-gram-Jaccard dedup, each with a
fully-equivalent DuckDB oracle (the md5-based portable hashing makes
even the MinHash pipeline oracle-exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.functions.text import fingerprint, shingles, tokens
from aether_firebase_consumer_spark.operators.dedup import (
    MH_A,
    MH_B,
    MH_P,
    connected_components,
    exact_dedup,
    lsh_candidate_pairs,
    lsh_incremental_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    portable_hash60,
    simhash,
    simhash_band_pairs,
)
from aether_firebase_consumer_spark.materialize import materialize
from aether_firebase_consumer_spark.plans import register
from aether_firebase_consumer_spark.tables import fan_out_for_compute, load_table

# Shared DuckDB shingle CTE: 3-token distinct shingles, mirroring
# functions.text.shingles (sequence → slice → array_join → distinct).
_SHINGLES_CTE = """
    shing AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> array_to_string(toks[i:i+2], ' ')))) > 0
    )
"""


@register(
    "dedup_exact",
    oracle="""
    WITH fp AS (
      SELECT doc_id, lang,
             md5(array_to_string(
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> ''), ' ')) AS fp
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, fp,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fp
    )
    SELECT doc_id, lang, fp FROM ranked WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint with deterministic
    keep-first (min doc_id) survivor. One shuffle on the 16-byte key."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", "lang", fingerprint("text").alias("fp"))
    return exact_dedup(keyed, F.col("fp"), "doc_id", "doc_id") \
        .select("doc_id", "lang", "fp")


@register(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(array_to_string(
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> ''), ' ')) AS fp,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper,
           list_sort(list(doc_id)) AS all_ids
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group report: fingerprint groups with >1 member."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n_copies"),
             F.min("doc_id").alias("keeper"),
             F.sort_array(F.collect_list("doc_id")).alias("all_ids"))
        .filter(F.col("n_copies") > 1)
    )


def _minhash_sql(i: int) -> str:
    # Mirrors operators.dedup.portable_hash60 + affine permutation:
    # one md5 per shingle, k integer permutations on top.
    return (f"list_min(list_transform(sh, s -> "
            f"({MH_A[i]} * (('0x' || substr(md5(s), 1, 15))::BIGINT % {MH_P})"
            f" + {MH_B[i]}) % {MH_P})) AS mh{i}")


_K, _BANDS, _ROWS = 8, 4, 2
_BAND_SQL = ", ".join(
    "concat_ws('|', " + ", ".join(
        [str(b)] + [f"mh{b * _ROWS + r}" for r in range(_ROWS)])
    + f") AS band{b}"
    for b in range(_BANDS))


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (
      SELECT id, sh, {", ".join(_minhash_sql(i) for i in range(_K))}
      FROM shing
    ),
    banded AS (SELECT id, {_BAND_SQL} FROM sig),
    long AS (
      SELECT id, unnest([{", ".join(f"band{b}" for b in range(_BANDS))}])
               AS band_key
      FROM banded
    ),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM long a JOIN long b
        ON a.band_key = b.band_key AND a.id < b.id
    )
    SELECT p.id_a, p.id_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
    FROM pairs p
    JOIN shing sa ON sa.id = p.id_a
    JOIN shing sb ON sb.id = p.id_b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=8) + LSH(4 bands × 2 rows) candidate pairs, verified
    with exact Jaccard ≥ 0.5. The scale path for fuzzy dedup: band join
    shuffles only (16-byte key, id) — never documents."""
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    pairs = lsh_candidate_pairs(docs, "doc_id", "text", k=_K, bands=_BANDS)
    return pairs.filter(F.col("jaccard") >= 0.5)


# The full MinHash-LSH candidate pipeline as SQL CTEs (shared by the
# components oracle below).
def _lsh_pairs_ctes(shingle_cte: str = _SHINGLES_CTE) -> str:
    return f"""{shingle_cte},
    sig AS (
      SELECT id, sh, {", ".join(_minhash_sql(i) for i in range(_K))}
      FROM shing
    ),
    banded AS (SELECT id, {_BAND_SQL} FROM sig),
    long AS (
      SELECT id, unnest([{", ".join(f"band{b}" for b in range(_BANDS))}])
               AS band_key
      FROM banded
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM long a JOIN long b
        ON a.band_key = b.band_key AND a.id < b.id
    ),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN shing sa ON sa.id = c.id_a
      JOIN shing sb ON sb.id = c.id_b
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    )"""


# Recursive transitive-closure CTEs over the verified near-dup edges —
# the SQL twin of connected_components, shared by both oracles below so
# the labeling can never drift between the stage and pipeline queries.
_CC_CTES = """
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION
      SELECT id_b AS src, id_a AS dst FROM verified
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS id, LEAST(src, MIN(dst)) AS component
      FROM reach GROUP BY src
    )"""


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_lsh_pairs_ctes()},
    {_CC_CTES}
    SELECT id, component FROM comp
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group clustering: LSH-verified near-dup pairs → graph →
    connected components (min-id label) — the step that turns pairwise
    near-dups into dedup *groups* (keep min id per component, drop the
    rest). Iterative min-label propagation, O(diameter) shuffle rounds;
    the oracle computes the same components with a recursive CTE."""
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    pairs = lsh_candidate_pairs(docs, "doc_id", "text", k=_K, bands=_BANDS) \
        .filter(F.col("jaccard") >= 0.5).select("id_a", "id_b")
    return connected_components(pairs, "id_a", "id_b")




def _simhash_bits_sql(bits: int) -> str:
    """The b-bit SimHash signature as one SQL sum-of-CASEs expression —
    shared by dedup_simhash (16) and dedup_simhash_neardup (32) so the
    nibble threshold and tie-at-zero rule can never drift apart."""
    return " + ".join(
        f"""CASE WHEN list_reduce(list_prepend(0, list_transform(hs,
               h -> CASE WHEN substr(h, {j + 1}, 1) IN
                    ('8','9','a','b','c','d','e','f')
                    THEN 1 ELSE -1 END)), (a, b) -> a + b) > 0
               THEN {2 ** j} ELSE 0 END"""
        for j in range(bits))


@register(
    "dedup_simhash",
    oracle="""
    WITH hashed AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '), t -> md5(t)) AS hs
      FROM documents
    ),
    sigs AS (
      SELECT doc_id,
             CAST((
    """ + _simhash_bits_sql(16) + """
             ) AS BIGINT) AS simhash16
      FROM hashed
    )
    SELECT doc_id, simhash16,
           COUNT(*) OVER (PARTITION BY simhash16) AS n_bucket
    FROM sigs
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document + bucket sizes (same-signature docs
    are near-dup candidates). Signature is a pure fold over one md5 per
    token."""
    from pyspark.sql import Window as W
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    sigs = docs.select(
        "doc_id", simhash(tokens("text"), bits=16).alias("simhash16"))
    return sigs.withColumn(
        "n_bucket", F.count("*").over(W.partitionBy("simhash16")))


# Stop-shingle document-frequency cap for the registered query: bounds
# the inverted-index self-join fan-out to DF² per shingle.
_JACCARD_DF_CAP = 50


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    inv0 AS (SELECT id, unnest(sh) AS shingle FROM shing),
    inv AS (
      SELECT id, shingle FROM inv0
      WHERE shingle IN (SELECT shingle FROM inv0
                        GROUP BY shingle
                        HAVING COUNT(*) <= {_JACCARD_DF_CAP})
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM inv GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM inv a JOIN inv b
        ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           CAST(c.n_common AS DOUBLE)
             / (sa.n + sb.n - c.n_common) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.id = c.id_a
    JOIN sizes sb ON sb.id = c.id_b
    WHERE CAST(c.n_common AS DOUBLE)
             / (sa.n + sb.n - c.n_common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs over DF-capped shingle sets: shingles
    with document frequency > 50 are stop-shingles, cut on BOTH engines
    before the inverted-index join, bounding fan-out to DF² per shingle
    (one ubiquitous shingle no longer quadratizes the join)."""
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5,
                               max_doc_freq=_JACCARD_DF_CAP)


@register(
    "dedup_ngram_containment",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    inv0 AS (SELECT id, unnest(sh) AS shingle FROM shing),
    inv AS (
      SELECT id, shingle FROM inv0
      WHERE shingle IN (SELECT shingle FROM inv0
                        GROUP BY shingle
                        HAVING COUNT(*) <= {_JACCARD_DF_CAP})
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM inv GROUP BY id),
    common AS (
      SELECT a.id AS contained_id, b.id AS container_id,
             COUNT(*) AS n_common
      FROM inv a JOIN inv b
        ON a.shingle = b.shingle AND a.id <> b.id
      GROUP BY 1, 2
    )
    SELECT c.contained_id, c.container_id,
           CAST(c.n_common AS DOUBLE) / sa.n AS containment
    FROM common c
    JOIN sizes sa ON sa.id = c.contained_id
    WHERE CAST(c.n_common AS DOUBLE) / sa.n >= 0.8
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED shingle containment |A∩B|/|A| ≥ 0.8 — catches a short
    document pasted inside a longer one, which Jaccard misses (the
    union dwarfs the intersection). Same DF-capped inverted-index
    join as ``dedup_ngram_jaccard``; only the final ratio differs."""
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    return ngram_containment_pairs(docs, "doc_id", "text", threshold=0.8,
                                   max_doc_freq=_JACCARD_DF_CAP)


# Survivor-restricted shingle CTE for the end-to-end pipeline: same
# shingling, but only over docs that survived exact dedup.
_SHINGLES_SURV = _SHINGLES_CTE.replace(
    "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)",
    "FROM (SELECT d.doc_id, string_split(d.text, ' ') AS toks "
    "FROM documents d JOIN survivors s ON s.doc_id = d.doc_id)")


@register(
    "dedup_pipeline_keep",
    oracle=f"""
    WITH RECURSIVE fp AS (
      SELECT doc_id,
             md5(array_to_string(
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> ''), ' ')) AS fp
      FROM documents
    ),
    fpg AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY fp) AS canon_exact,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fp
    ),
    survivors AS (SELECT doc_id FROM fpg WHERE rn = 1),
    {_lsh_pairs_ctes(_SHINGLES_SURV)},
    {_CC_CTES}
    SELECT f.doc_id,
           CASE WHEN f.rn > 1 THEN 'exact_dup'
                WHEN c.component IS NOT NULL AND c.component < f.doc_id
                  THEN 'near_dup'
                ELSE 'kept' END AS reason,
           CAST(CASE WHEN f.rn > 1 THEN f.canon_exact
                WHEN c.component IS NOT NULL AND c.component < f.doc_id
                  THEN c.component
                ELSE f.doc_id END AS BIGINT) AS canonical_id,
           (f.rn = 1 AND (c.component IS NULL OR c.component >= f.doc_id))
             AS keep
    FROM fpg f LEFT JOIN comp c ON c.id = f.doc_id
    """,
)
def dedup_pipeline_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data dedup pipeline as one query:

      1. exact dedup — md5 fingerprint of the normalized token stream,
         deterministic keep-first (min doc_id) per fingerprint;
      2. MinHash-LSH near-dup candidates over the exact survivors,
         exact-Jaccard >= 0.5 verify (band equi-join, never all-pairs);
      3. connected components over the verified near-dup graph,
         keep the min-id member per component.

    Output: one row per document with the keep decision, the drop
    reason ('exact_dup' / 'near_dup' / 'kept'), and the canonical doc
    it deduplicates to — exactly the audit artifact a corpus pipeline
    persists. Every stage shuffles on small keys (16-byte fingerprint,
    band key, id), so the composition scales like its parts."""
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    from pyspark.sql import Window as W
    fpd = docs.select("doc_id", "text", fingerprint("text").alias("fp"))
    ranked = (fpd
              .withColumn("canon_exact",
                          F.min("doc_id").over(W.partitionBy("fp")))
              .withColumn("rn", F.row_number().over(
                  W.partitionBy("fp").orderBy("doc_id"))))
    # the ranked lineage (fingerprint hash + fp-shuffle + two windows)
    # feeds THREE branches (LSH/CC, the survivor join, the dropped
    # union); truncate it once so the corpus isn't re-scanned and
    # re-hashed per branch — same materialize idiom as
    # connected_components' iteration
    ranked, _ = materialize(ranked)
    survivors = ranked.filter(F.col("rn") == 1)
    pairs = lsh_candidate_pairs(survivors, "doc_id", "text",
                                k=_K, bands=_BANDS) \
        .filter(F.col("jaccard") >= 0.5).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    near = (F.col("component").isNotNull()
            & (F.col("component") < F.col("doc_id")))
    surv_out = (survivors.join(comp, survivors.doc_id == comp.id, "left")
                .select(survivors.doc_id,
                        F.when(near, "near_dup").otherwise("kept")
                        .alias("reason"),
                        F.when(near, F.col("component"))
                        .otherwise(survivors.doc_id).alias("canonical_id"),
                        (~near).alias("keep")))
    dropped = ranked.filter(F.col("rn") > 1).select(
        "doc_id",
        F.lit("exact_dup").alias("reason"),
        F.col("canon_exact").alias("canonical_id"),
        F.lit(False).alias("keep"))
    return surv_out.unionByName(dropped)


@register(
    "dedup_simhash_neardup",
    oracle="""
    WITH hashed AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '), t -> md5(t)) AS hs
      FROM documents
    ),
    sigs AS (
      SELECT doc_id,
             CAST((
    """ + _simhash_bits_sql(32) + """
             ) AS BIGINT) AS sig
      FROM hashed
    ),
    bands AS (
      SELECT doc_id, sig, b.band_id,
             (sig >> (8 * b.band_id)) & 255 AS band_val
      FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band_id) b
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
             x.sig AS sig_a, y.sig AS sig_b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_val = y.band_val
       AND x.doc_id < y.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """,
)
def dedup_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairing: 32-bit signatures split into 4 bands
    of 8 bits; any-band-equal pairs are candidates (pigeonhole: every
    pair within hamming distance 3 shares at least one of 4 intact
    bands — recall is GUARANTEED, not probabilistic), then the exact
    popcount(xor) <= 3 verify. All joins are equi-joins on
    (band_id, band_val); the shuffle carries (id, 32-bit sig), never
    text. 256-way bands keep candidate fan-out sub-quadratic (16-bit
    sigs with 4-bit bands measured 26% of ALL pairs as output on the
    correlated-vocabulary fixtures — too coarse); 64-bit sigs widen
    the same plan further when needed."""
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    sigs = docs.select(
        "doc_id", simhash(tokens("text"), bits=32).alias("sig"))
    cand = simhash_band_pairs(sigs, "doc_id", "sig",
                              n_bands=4, band_bits=8)
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.select("id_a", "id_b",
                        hamming.cast("int").alias("hamming"))
            .where(F.col("hamming") <= 3))


@register(
    "dedup_chunk_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             (('0x' || substr(md5(
                array_to_string(list_slice(w, (i-1)*16 + 1, i*16), ' ')),
                1, 15))::BIGINT % 2147483647) AS h
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, len(w) // 16)) AS i)
    ),
    freq AS (
      SELECT h, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY h
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) FILTER (f.nd > 1) AS BIGINT) AS n_shared,
           CAST(COUNT(*) FILTER (f.nd > 1) AS DOUBLE) / COUNT(*)
             AS shared_ratio
    FROM chunks c JOIN freq f USING (h)
    GROUP BY c.doc_id
    """,
)
def dedup_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (chunk-level) duplication audit — the granularity
    doc-level dedup misses: boilerplate headers, quoted passages, and
    template text shared ACROSS documents. Each document splits into
    consecutive 16-token chunks; a chunk is 'shared' when its content
    hash appears in more than one document; the output is each doc's
    shared-chunk ratio (the paragraph-dedup signal used to decide
    line/passage-level cleaning vs whole-doc dropping).

    Scale posture: the shuffle carries (60-bit chunk hash, doc_id) —
    never chunk text; the frequency table groups by hash (map-side
    partial count-distinct), and the join back is hash⋈hash. Docs
    shorter than one full chunk drop out identically on both engines
    (empty sequence). Collisions are hash-consistent cross-engine by
    construction (same md5-derived 60-bit hash)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    n_chunks = F.floor(F.size("w") / 16).cast("int")
    chunk_i = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.concat_ws(" ", F.slice("w", (i - 1) * 16 + 1, 16)))
    chunks = (toks.filter(n_chunks >= 1)
              .select("doc_id", F.posexplode(chunk_i)
                      .alias("chunk_idx", "chunk"))
              .select("doc_id", portable_hash60(F.col("chunk")).alias("h")))
    freq = chunks.groupBy("h").agg(
        F.countDistinct("doc_id").alias("nd"))
    shared = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return (chunks.join(freq, "h")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_chunks"),
                 shared.cast("bigint").alias("n_shared"),
                 (shared.cast("double") / F.count("*"))
                 .alias("shared_ratio")))


# Shared by dedup_incremental_lsh and its partition-pruned twin: both
# must produce the same pairs, so they carry the same oracle.
_INCR_LSH_ORACLE = f"""
    WITH {_SHINGLES_CTE},
    sig AS (
      SELECT id, sh, {", ".join(_minhash_sql(i) for i in range(_K))}
      FROM shing
    ),
    banded AS (SELECT id, {_BAND_SQL} FROM sig),
    long AS (
      SELECT id, unnest([{", ".join(f"band{{b}}".format(b=b) for b in range(_BANDS))}])
               AS band_key
      FROM banded
    ),
    long_e AS (SELECT * FROM long WHERE id % 10 < 8),
    long_i AS (SELECT * FROM long WHERE id % 10 >= 8),
    cand AS (
      SELECT DISTINCT a.id AS new_id, b.id AS old_id
      FROM long_i a JOIN long_e b ON a.band_key = b.band_key
    ),
    ver AS (
      SELECT c.new_id, c.old_id,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
      FROM cand c
      JOIN shing sa ON sa.id = c.new_id
      JOIN shing sb ON sb.id = c.old_id
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    ),
    best AS (
      SELECT new_id, old_id AS dup_of, jaccard,
             ROW_NUMBER() OVER (PARTITION BY new_id
                                ORDER BY jaccard DESC, old_id) AS rn
      FROM ver
    )
    SELECT new_id, dup_of, jaccard FROM best WHERE rn = 1
    """


@register("dedup_incremental_lsh", oracle=_INCR_LSH_ORACLE)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: an incoming batch (doc_id % 10 ∈ {{8,9}} — a
    deterministic 20% stand-in for a micro-batch) probed against the
    existing corpus (the other 80%) via banded MinHash-LSH, exact-Jaccard
    verified ≥ 0.5, reporting each duplicate's best existing match
    (max jaccard, ties to the smallest old id).

    This is the shape corpus ingestion needs at 100 TB: the corpus is
    never self-joined — its (id, band_key) frame acts as a persisted
    index the batch equi-probes, so per-batch cost scales with the
    batch, not the corpus. Banding is per-doc, so splitting the corpus
    does not change any signature (the oracle bands once and filters)."""
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    existing = docs.filter(F.col("doc_id") % 10 < 8)
    incoming = docs.filter(F.col("doc_id") % 10 >= 8)
    pairs = lsh_incremental_pairs(existing, incoming, "doc_id", "text",
                                  k=_K, bands=_BANDS, threshold=0.5)
    from pyspark.sql import Window as W
    w = W.partitionBy("new_id").orderBy(F.desc("jaccard"), "old_id")
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("new_id", F.col("old_id").alias("dup_of"), "jaccard"))


_PRUNED_IDX: dict[str, tuple] = {}


@register("dedup_incremental_lsh_pruned", oracle=_INCR_LSH_ORACLE)
def dedup_incremental_lsh_pruned(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """``dedup_incremental_lsh`` through the PERSISTED, partition-
    pruned index path (round 7): the existing corpus's band keys are
    written to a bkp-hash-partitioned ``(doc_id, band_key, bkp)``
    upsert table and its shingle sets to an idp-partitioned per-doc
    table; the incoming batch probes them via
    :func:`~..operators.dedup.lsh_probe_partitioned_pairs`, whose scan
    pushes the batch's prefixes as PartitionFilters — per-trigger
    index I/O is bounded by the batch, not the corpus (the round-6
    claims gap, closed and oracle-gated here: results are bit-
    identical to the recompute form, so both carry the same oracle)."""
    import tempfile

    from aether_firebase_consumer_spark.operators.dedup import (
        id_partition,
        lsh_band_index_rows,
        lsh_index_frame,
        lsh_probe_partitioned_pairs,
    )
    from aether_firebase_consumer_spark.sinks.upsert import (
        ParquetUpsertTable,
    )

    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    existing = docs.filter(F.col("doc_id") % 10 < 8)
    incoming = docs.filter(F.col("doc_id") % 10 >= 8)
    n_parts, idp_parts = 16, 8
    # the index tables PERSIST in production (that is their point);
    # build them once per (process, sf_dir) — same convention as the
    # kafka_queries broker cache — so repeated runs measure the probe
    cached = _PRUNED_IDX.get(sf_dir)
    if cached is None:
        root = tempfile.mkdtemp(prefix="lsh_pruned_idx_")
        doc_t = ParquetUpsertTable(spark, root + "/doc", ["doc_id"],
                                   partition_col="idp")
        long_t = ParquetUpsertTable(spark, root + "/long",
                                    ["doc_id", "band_key"],
                                    partition_col="bkp")
        doc_t.merge(lsh_index_frame(existing, "doc_id", "text",
                                    k=_K, bands=_BANDS)
                    .withColumn("idp", id_partition(F.col("doc_id"),
                                                    idp_parts)))
        long_t.merge(lsh_band_index_rows(existing, "doc_id", "text",
                                         k=_K, bands=_BANDS,
                                         n_parts=n_parts))
        cached = _PRUNED_IDX[sf_dir] = (doc_t, long_t)
    doc_t, long_t = cached
    pairs = lsh_probe_partitioned_pairs(
        long_t.read(), doc_t.read(), incoming, "doc_id", "text",
        k=_K, bands=_BANDS, threshold=0.5,
        n_parts=n_parts, idp_parts=idp_parts)
    from pyspark.sql import Window as W
    w = W.partitionBy("new_id").orderBy(F.desc("jaccard"), "old_id")
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("new_id", F.col("old_id").alias("dup_of"),
                    "jaccard"))


@register("dedup_minhash_lsh_fast")  # rows-only: xxhash64 has no DuckDB twin
def dedup_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-speed MinHash-LSH: xxhash64 signatures computed in
    ONE projection (array transform — no signature shuffle; see the
    measured notes on ``lsh_candidate_pairs_xx``). Same banding and
    exact-Jaccard ≥ 0.5 verify as ``dedup_minhash_lsh``; that query
    carries the SQL oracle for the algorithm,
    ``tests/test_operators.py`` pins this variant against brute-force
    truth, and the benched pair quantifies what portability costs —
    measured: the md5 hash itself is nearly free, the portable form's
    extra shuffle is the actual tax."""
    from aether_firebase_consumer_spark.operators.dedup import (
        lsh_candidate_pairs_xx,
    )

    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    pairs = lsh_candidate_pairs_xx(docs, "doc_id", "text",
                                   k=_K, bands=_BANDS)
    return pairs.filter(F.col("jaccard") >= 0.5)


@register(
    "dedup_editdist",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(substr(a.text, 1, 64),
                            substr(b.text, 1, 64)) AS BIGINT) AS dist
    FROM documents a JOIN documents b ON a.doc_id < b.doc_id
    WHERE length(a.text) >= 64 AND length(b.text) >= 64
      AND levenshtein(substr(a.text, 1, 64),
                      substr(b.text, 1, 64)) <= 2
    """,
)
def dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance near-dup join (round 11): all document
    pairs whose 64-char prefixes are within levenshtein distance 2,
    found via the PassJoin pigeonhole signature join
    (``operators.dedup.editdist_pairs``) — k+1 disjoint segments per
    prefix equi-joined against ±k shifted windows, then a built-in
    ``levenshtein`` verify on the candidates only. The oracle is
    DuckDB's brute-force pairwise levenshtein over the same predicate,
    so a false NEGATIVE anywhere in the segmentation/shift/clip logic
    (not just a false positive) fails the hash gate. Candidate volume
    is signature-collision bounded — at 100 TB this is the standard
    distributed similarity-join shape (PassJoin/Ed-Join family),
    where the quadratic pair space is never materialized."""
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    from aether_firebase_consumer_spark.operators.dedup import (
        editdist_pairs,
    )

    pairs = editdist_pairs(docs, "doc_id", "text", k=2, prefix_len=64)
    return pairs.select("id_a", "id_b",
                        F.col("dist").cast("bigint").alias("dist"))


@register(
    "dedup_editdist_groups",
    oracle="""
    WITH RECURSIVE verified AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM documents a JOIN documents b ON a.doc_id < b.doc_id
      WHERE length(a.text) >= 64 AND length(b.text) >= 64
        AND levenshtein(substr(a.text, 1, 64),
                        substr(b.text, 1, 64)) <= 2
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION
      SELECT id_b AS src, id_a AS dst FROM verified
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS id, LEAST(src, MIN(dst)) AS component
      FROM reach GROUP BY src
    )
    SELECT id, component,
           CAST(id = component AS BOOLEAN) AS keep
    FROM comp
    """,
)
def dedup_editdist_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance dedup GROUPS with a keep decision (round 11):
    the PassJoin pairs (``dedup_editdist``) feed min-label connected
    components, and the canonical (minimum-id) member of each
    component is kept — the takedown-grade artifact a near-dup family
    of typo'd / lightly-edited documents resolves to. Composition of
    two already-gated operators (``editdist_pairs`` ×
    ``connected_components``), re-gated end to end: the oracle chains
    DuckDB's brute-force levenshtein join into the same recursive-CTE
    labeling used by ``dedup_components``, so drift in either stage
    OR in their composition fails the hash gate."""
    from aether_firebase_consumer_spark.operators.dedup import (
        connected_components,
        editdist_pairs,
    )

    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    pairs = editdist_pairs(docs, "doc_id", "text", k=2, prefix_len=64) \
        .select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.withColumn("keep", F.col("id") == F.col("component"))


@register(
    "dedup_editdist_full",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000, substr(text, 1, 9) || substr(text, 11)
      FROM documents WHERE doc_id % 17 = 0
      UNION ALL
      SELECT doc_id + 20000000,
             substr(text, 1, 4) || 'Z' || substr(text, 6)
      FROM documents WHERE doc_id % 23 = 0
    ),
    d AS (
      SELECT doc_id, text, length(text) AS l FROM corpus
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
    FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.l - b.l) <= 2
    WHERE levenshtein(a.text, b.text) <= 2
    """,
)
def dedup_editdist_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-TEXT exact edit-distance join (round 12 —
    ``operators.dedup.editdist_pairs_full``): every document pair
    within whole-text levenshtein distance 2, ANY length —
    lifting round 11's two limits (64-char prefix scope; docs shorter
    than the prefix excluded) via variable-length PassJoin: per-row
    COMPUTED segment geometry over candidate lengths [m-2, m],
    δ-shifted window probes, equi-join on (length, segment, content),
    banded ``levenshtein(a, b, k)`` verify. The corpus is documents
    plus DETERMINISTIC near-dup mutants (char-10 deletion for
    doc_id%17, char-5 'Z' substitution for doc_id%23 — the natural
    corpus has NO full-text near-dups, so without them this oracle
    would pin only the no-false-positive half); both sides derive the
    mutants with the same string expressions, and the oracle
    brute-forces levenshtein over the |len diff| <= 2 pair space
    (a lossless prune: length gap > k forces distance > k) — so a
    false negative in the segment geometry, the shift windows, OR the
    length-bucket logic fails the hash gate."""
    from aether_firebase_consumer_spark.operators.dedup import (
        editdist_pairs_full,
    )

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text")
    m1 = (docs.filter(F.col("doc_id") % 17 == 0)
          .select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                  F.expr("concat(substring(text, 1, 9), "
                         "substring(text, 11))").alias("text")))
    m2 = (docs.filter(F.col("doc_id") % 23 == 0)
          .select((F.col("doc_id") + 20_000_000).alias("doc_id"),
                  F.expr("concat(substring(text, 1, 4), 'Z', "
                         "substring(text, 6))").alias("text")))
    corpus = fan_out_for_compute(
        docs.unionByName(m1).unionByName(m2))
    pairs = editdist_pairs_full(corpus, "doc_id", "text", k=2)
    return pairs.select("id_a", "id_b",
                        F.col("dist").cast("bigint").alias("dist"))
