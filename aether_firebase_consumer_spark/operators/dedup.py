"""Deduplication operators (SURVEY.md §2.3 — LLM-data-pipeline surface).

Five families, all shuffle-aware for 100 TB:

- **Exact**: hash-groupBy on a content key (fingerprint), keep-first by
  a deterministic order — one shuffle on the 16-byte key, never on the
  payload.
- **MinHash + LSH**: shingle → k minhashes → band keys → candidate
  pairs via band-key equi-join → exact Jaccard verify on candidates.
  The band join shuffles only (band_key, doc_id) pairs; the verify
  joins shingle sets back in for candidates only. Hash fn: ONE md5 per
  shingle → 60-bit int → k affine permutations mod 2^31-1 — portable &
  oracle-exact at 1/k the hashing cost of per-i md5; a raw xxhash64
  variant is provided for maximum production throughput.
- **SimHash**: b-bit signature from per-token hash nibbles; near-dups
  share the exact signature (or a banded sub-signature).
- **N-gram Jaccard**: inverted-index join on distinct shingles with
  per-pair common counts — exact, for moderate corpora or as the
  verify stage of LSH.
- **Embedding cosine**: see operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.functions.text import shingles, tokens
from aether_firebase_consumer_spark.materialize import materialize as _materialize


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, key: Column, order_col: str,
                id_col: str) -> DataFrame:
    """Keep the first row (by ``order_col``) per content key.

    Equivalent to dropDuplicates but with *deterministic* survivor
    choice (dropDuplicates keeps an arbitrary row — unacceptable for a
    reproducible data pipeline). One shuffle on the key.
    """
    w = W.partitionBy(key).orderBy(order_col, id_col)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))


# ---------------------------------------------------------------- minhash

# Affine-permutation minhash constants: h_i(x) = (A[i]*x + B[i]) mod P.
# P = 2^31 - 1 (prime); A[i]*(x mod P) < 2^62 so the math stays in int64
# in both Spark and the DuckDB oracle.
MH_P = 2_147_483_647
MH_A = [769, 1543, 3079, 6151, 12289, 24593, 49157, 98317,
        196613, 393241, 786433, 1572869, 3145739, 6291469, 12582917,
        25165843]
MH_B = [12582917, 25165843, 50331653, 100663319, 201326611, 402653189,
        805306457, 1610612741, 769, 1543, 3079, 6151, 12289, 24593,
        49157, 98317]


def portable_hash60(s: Column) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5, as
    bigint, reduced mod P. Byte-identical in DuckDB via
    ``('0x' || substr(md5(s),1,15))::BIGINT % P`` — one md5 per value,
    every derived minhash is integer math on top."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint") % MH_P


def minhash_signature(shingle_arr: Column, k: int = 8) -> list[Column]:
    """k portable minhashes from ONE md5 per shingle:
    sig_i = min over shingles of (A[i]·h60(s) + B[i]) mod P.

    Single-expression (array transform) form; for large shingle sets
    prefer the explode + partial-agg form in
    :func:`lsh_candidate_pairs`, which guarantees one hash evaluation
    per shingle and map-side combine."""
    def perm(i: int):
        # arity-1 lambda: a 2-arg lambda would make Spark's transform
        # bind the ELEMENT INDEX to the second parameter, clobbering
        # the permutation index
        return lambda s: (F.lit(MH_A[i]) * portable_hash60(s)
                          + F.lit(MH_B[i])) % MH_P

    return [
        F.array_min(F.transform(shingle_arr, perm(i))).alias(f"mh{i}")
        for i in range(k)
    ]


def minhash_signature_xx(shingle_arr: Column, k: int = 8) -> list[Column]:
    """Production variant: integer minhash via xxhash64(i, shingle) —
    cheapest JVM path (no hex strings)."""
    def perm(i: int):
        # arity-1 lambda (see minhash_signature): keep the permutation
        # seed out of transform's (element, index) binding
        return lambda s: F.xxhash64(F.lit(i), s)

    return [
        F.array_min(F.transform(shingle_arr, perm(i))).alias(f"mh{i}")
        for i in range(k)
    ]


def _lsh_band_long(df: DataFrame, id_col: str, text_col: str,
                   k: int, bands: int, shingle_k: int
                   ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared LSH front half: per-doc shingle sets and the exploded
    (id, band_key) frame. Returns ``(sh, long, banded)`` where ``sh``
    is (id, sh:array<string>), ``long`` is one row per (id, band), and
    ``banded`` is the pre-explode (id, band_keys:array<string>) frame
    (what :func:`lsh_index_frame` persists).

    One md5 per shingle (explode), k affine permutations as integer
    math, map-side partial MIN combine — the signature shuffle carries
    one k-int row per (id, map-partition), never the shingles.

    PERF (r14): both explodes are written INLINE — the generator input
    is the array expression itself, never an aliased computed column
    from an upstream select. Whole-stage codegen defers projected
    expressions into the consumer, so ``select(arr.alias("a"))`` +
    ``explode("a")`` re-evaluates the array builder once per OUTPUT
    row (measured 1.39 s vs 0.27 s inline for the shingle explode at
    sf0.1/local[32] — a ~5x tax on every shingle-family query). The
    empty-array filter the ``sh`` frame carries is unnecessary on the
    explode path: explode of an empty array emits nothing."""
    if k % bands:
        raise ValueError(
            f"k={k} must be divisible by bands={bands}: the trailing "
            f"{k % bands} minhashes would be computed but silently "
            "unused, weakening the configured recall guarantee")
    rows = k // bands
    # PERF (r14 batch 4): the empty-set cut is a PRE-filter on the raw
    # token count (size(sh) > 0 <=> token count >= shingle_k — the
    # shingle array is non-empty iff the sequence guard fires). The
    # previous `.filter(F.size("sh") > 0)` on the aliased computed
    # column re-evaluated the whole shingle builder for the filter on
    # top of the projection (measured 1.56 s vs 0.40 s for the sh
    # frame at sf0.1/local[32] — a ~4x tax on every verify join that
    # streams this frame).
    sh = df.filter(F.size(tokens(F.col(text_col))) >= shingle_k) \
           .select(F.col(id_col).alias("id"),
                   shingles(F.col(text_col), shingle_k).alias("sh"))
    hashed = df.select(F.col(id_col).alias("id"),
                       F.explode(shingles(F.col(text_col), shingle_k))
                       .alias("s")) \
               .select("id", portable_hash60(F.col("s")).alias("h"))
    sig = hashed.groupBy("id").agg(*[
        F.min((F.lit(MH_A[i]) * F.col("h") + F.lit(MH_B[i])) % MH_P)
        .alias(f"mh{i}")
        for i in range(k)
    ])
    band_cols = [
        F.concat_ws("|", F.lit(b),
                    *[F.col(f"mh{b * rows + r}") for r in range(rows)])
        .alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(
        "id", F.array(*band_cols).alias("band_keys"))
    long = sig.select(
        "id", F.explode(F.array(*band_cols)).alias("band_key"))
    return sh, long, banded


def lsh_index_frame(df: DataFrame, id_col: str, text_col: str,
                    k: int = 8, bands: int = 4,
                    shingle_k: int = 3) -> DataFrame:
    """The PERSISTABLE form of the LSH front half: one row per doc,
    ``(id_col, sh: array<string>, band_keys: array<string>)`` — exactly
    the shingle sets and band keys :func:`_lsh_band_long` computes, but
    keyed by doc so a :class:`~..sinks.upsert.ParquetUpsertTable` can
    maintain it incrementally (merge survivors' rows at ingest time)
    instead of the probe side re-shingling the whole corpus per batch.

    Docs with empty shingle sets (empty/near-empty text) are absent —
    they can never band-match, same as the transient frame. Contents
    are plan-for-plan identical to a from-scratch recompute, which is
    what makes index-probed matching (:func:`lsh_probe_index_pairs`)
    interchangeable with :func:`lsh_incremental_pairs`."""
    sh, _long, banded = _lsh_band_long(df, id_col, text_col,
                                       k, bands, shingle_k)
    return (sh.join(banded, "id")
            .select(F.col("id").alias(id_col), "sh", "band_keys"))


def lsh_probe_index_pairs(index: DataFrame, incoming: DataFrame,
                          id_col: str, text_col: str,
                          k: int = 8, bands: int = 4,
                          shingle_k: int = 3,
                          threshold: float = 0.5) -> DataFrame:
    """:func:`lsh_incremental_pairs` with the EXISTING side served from
    a persisted :func:`lsh_index_frame` table instead of recomputed
    from corpus text — the 100 TB shape the incremental operator's
    docstring promises: per-batch cost ∝ batch (shingle+hash the batch,
    equi-join its band keys into the index, verify candidates against
    stored shingle sets), never ∝ corpus.

    Returns (new_id, old_id, jaccard) for incoming docs whose exact
    shingle-Jaccard against some indexed doc is ≥ ``threshold`` —
    bit-identical to the recompute form when ``index`` equals
    ``lsh_index_frame(existing, ...)`` with the same parameters.

    Scale shape: the index explode produces (id, band_key) rows the
    table can be bucketed/partitioned by at real scale, so the probe
    is a pruned scan + equi-join; shingle sets travel only for the
    candidate ids (semi-join first keeps the big side narrow)."""
    sh_i, long_i, _ = _lsh_band_long(incoming, id_col, text_col,
                                     k, bands, shingle_k)
    long_e = index.select(F.col(id_col).alias("id"),
                          F.explode("band_keys").alias("band_key"))
    cand = (long_i.alias("a")
            .join(long_e.alias("b"),
                  F.col("a.band_key") == F.col("b.band_key"))
            .select(F.col("a.id").alias("new_id"),
                    F.col("b.id").alias("old_id"))
            .distinct())
    sh_new = sh_i.select(F.col("id").alias("new_id"),
                         F.col("sh").alias("sh_new"))
    sh_old = index.select(F.col(id_col).alias("old_id"),
                          F.col("sh").alias("sh_old")) \
        .join(cand.select("old_id").distinct(), "old_id", "left_semi")
    return (cand.join(sh_new, "new_id").join(sh_old, "old_id")
            .select("new_id", "old_id",
                    (F.size(F.array_intersect("sh_new", "sh_old"))
                     .cast("double")
                     / F.size(F.array_union("sh_new", "sh_old")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


#: default fan-out of the hash-partitioned long band index. At 100 TB
#: this is the table's bucket count — size it so one partition's index
#: rows fit a scan task; locally 16 keeps per-partition parquet files
#: non-trivial at fixture scale.
BAND_INDEX_PARTITIONS = 16


def band_partition(key: Column, n_parts: int = BAND_INDEX_PARTITIONS
                   ) -> Column:
    """Directory-partition id for a band key: ``pmod(xxhash64(key), n)``
    — uniform regardless of band-key structure, identical at write time
    (index maintenance) and probe time (prefix pruning)."""
    return F.pmod(F.xxhash64(key), F.lit(n_parts))


def id_partition(id_c: Column, n_parts: int) -> Column:
    """Directory-partition id for a doc id (same recipe as
    :func:`band_partition`) — lets the shingle-set fetch of a probe
    prune the per-doc index to candidate ids' partitions."""
    return F.pmod(F.xxhash64(id_c), F.lit(n_parts))


def lsh_band_index_rows(df: DataFrame, id_col: str, text_col: str,
                        k: int = 8, bands: int = 4, shingle_k: int = 3,
                        n_parts: int = BAND_INDEX_PARTITIONS
                        ) -> DataFrame:
    """Rows for the PARTITION-PRUNABLE long band index:
    ``(id_col, band_key, bkp)`` — one row per (doc, band), ``bkp`` the
    hash partition the row's directory lives in. Maintained by a
    :class:`~..sinks.upsert.ParquetUpsertTable` keyed
    ``[id_col, "band_key"]`` with ``partition_col="bkp"``: merges and
    stale-key deletes are pruned to the touched partitions, and probes
    (:func:`lsh_probe_partitioned_pairs`) push the batch's prefixes as
    PartitionFilters so per-trigger index I/O is bounded by the
    batch's band-key prefixes, not the corpus."""
    _sh, long, _banded = _lsh_band_long(df, id_col, text_col,
                                        k, bands, shingle_k)
    return long.select(F.col("id").alias(id_col), "band_key",
                       band_partition(F.col("band_key"), n_parts)
                       .alias("bkp"))


def lsh_probe_partitioned_pairs(long_index: DataFrame,
                                doc_index: DataFrame,
                                incoming: DataFrame,
                                id_col: str, text_col: str,
                                k: int = 8, bands: int = 4,
                                shingle_k: int = 3,
                                threshold: float = 0.5,
                                n_parts: int = BAND_INDEX_PARTITIONS,
                                idp_parts: int | None = None,
                                materialize: bool = True) -> DataFrame:
    """:func:`lsh_probe_index_pairs` with per-trigger I/O bounded by
    the BATCH, not the corpus — closes the round-6 gap where the probe
    equi-joined the batch into the FULL index table (compute ∝ batch,
    I/O ∝ corpus; VERDICT r6 'What's wrong #1').

    ``long_index`` is the (id, band_key, bkp) table of
    :func:`lsh_band_index_rows`, read from a bkp-partitioned
    ParquetUpsertTable: the batch's distinct band-key prefixes (≤
    ``n_parts``, a bounded driver-side list) become an ``isin`` filter
    on ``bkp``, which Spark pushes as PartitionFilters — the scan reads
    only directories a batch key can possibly match. Pruning is exact:
    an equi-join match implies equal band_key implies equal prefix, so
    dropped partitions can never hold a candidate.

    ``doc_index`` is the per-doc :func:`lsh_index_frame` table (sh
    fetch for the verify, candidates only). With ``idp_parts`` set and
    ``doc_index`` carrying an ``idp`` partition column (written via
    :func:`id_partition`), that scan is pruned the same way: candidate
    old-ids' partitions only. Results are bit-identical to
    :func:`lsh_probe_index_pairs` / :func:`lsh_incremental_pairs`.

    ``materialize=False`` keeps the full lazy lineage (both pruned
    scans visible to plan inspection) at the cost of re-deriving the
    multi-referenced frames per reference; the default checkpoints
    them once (Spark has no common-subplan reuse)."""
    sh_i, long_i, _ = _lsh_band_long(incoming, id_col, text_col,
                                     k, bands, shingle_k)
    # materialize once: the prefix collect AND the candidate join both
    # read this frame
    if materialize:
        long_i, _ = _materialize(long_i)
    prefixes = [r[0] for r in long_i
                .select(band_partition(F.col("band_key"), n_parts)
                        .alias("p")).distinct().collect()]
    spark = incoming.sparkSession
    empty = spark.createDataFrame(
        [], f"new_id {dict(incoming.dtypes)[id_col]}, "
            f"old_id {dict(incoming.dtypes)[id_col]}, jaccard double")
    if not prefixes:
        return empty
    pruned = long_index.filter(F.col("bkp").isin(prefixes))
    cand = (long_i.alias("a")
            .join(pruned.alias("b"),
                  F.col("a.band_key") == F.col("b.band_key"))
            .select(F.col("a.id").alias("new_id"),
                    F.col(f"b.{id_col}").alias("old_id"))
            .distinct())
    if materialize:
        # reused: idp-prefix collect + both verify joins
        cand, _ = _materialize(cand)
    di = doc_index
    if idp_parts is not None and "idp" in di.columns:
        idps = [r[0] for r in cand
                .select(id_partition(F.col("old_id"), idp_parts)
                        .alias("p")).distinct().collect()]
        if not idps:
            return empty
        di = di.filter(F.col("idp").isin(idps))
    sh_new = sh_i.select(F.col("id").alias("new_id"),
                         F.col("sh").alias("sh_new"))
    sh_old = di.select(F.col(id_col).alias("old_id"),
                       F.col("sh").alias("sh_old")) \
        .join(cand.select("old_id").distinct(), "old_id", "left_semi")
    return (cand.join(sh_new, "new_id").join(sh_old, "old_id")
            .select("new_id", "old_id",
                    (F.size(F.array_intersect("sh_new", "sh_old"))
                     .cast("double")
                     / F.size(F.array_union("sh_new", "sh_old")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def lsh_incremental_pairs(existing: DataFrame, incoming: DataFrame,
                          id_col: str, text_col: str,
                          k: int = 8, bands: int = 4,
                          shingle_k: int = 3,
                          threshold: float = 0.5) -> DataFrame:
    """Incremental near-dup: match an INCOMING batch against an EXISTING
    corpus without ever self-joining the corpus — the shape a streaming
    ingestion pipeline needs (each micro-batch dedups against the
    accumulated table, reference consume-mode semantics applied to
    corpus hygiene).

    Returns (new_id, old_id, jaccard) for incoming docs whose exact
    shingle-Jaccard against some existing doc is ≥ ``threshold``.

    Scale shape: band keys are computed per-doc (independent of the
    corpus split, so both sides band identically); the probe is an
    equi-join of the SMALL incoming band frame into the big existing
    band frame — at 100 TB the existing (id, band_key) frame is a
    bucketed/persisted index the batch probes, cost ∝ batch size, not
    corpus²; only candidate ids fetch shingle sets for the exact
    verify."""
    sh_e, long_e, _ = _lsh_band_long(existing, id_col, text_col,
                                     k, bands, shingle_k)
    sh_i, long_i, _ = _lsh_band_long(incoming, id_col, text_col,
                                     k, bands, shingle_k)
    cand = (long_i.alias("a")
            .join(long_e.alias("b"),
                  F.col("a.band_key") == F.col("b.band_key"))
            .select(F.col("a.id").alias("new_id"),
                    F.col("b.id").alias("old_id"))
            .distinct())
    sh_new = sh_i.select(F.col("id").alias("new_id"),
                         F.col("sh").alias("sh_new"))
    sh_old = sh_e.select(F.col("id").alias("old_id"),
                         F.col("sh").alias("sh_old"))
    return (cand.join(sh_new, "new_id").join(sh_old, "old_id")
            .select("new_id", "old_id",
                    (F.size(F.array_intersect("sh_new", "sh_old"))
                     .cast("double")
                     / F.size(F.array_union("sh_new", "sh_old")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def lsh_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                        k: int = 8, bands: int = 4,
                        shingle_k: int = 3) -> DataFrame:
    """MinHash-LSH candidate pairs with exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) for candidate pairs that share at
    least one LSH band. Pipeline:
      1. per-doc shingle set + k minhashes (single scan, no shuffle)
      2. explode band keys → shuffle only (band_key, id)
      3. self-join on band_key (a<b), distinct pairs
      4. join shingle sets for the two ids, exact Jaccard
    Skew note: a degenerate band key (e.g. all-empty docs) would hot-spot
    step 3; AQE skew-join splits it, and empty docs are filtered up
    front.
    """
    sh, long, _ = _lsh_band_long(df, id_col, text_col, k, bands, shingle_k)
    a, b = long.alias("a"), long.alias("b")
    pairs = (a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.id") < F.col("b.id")))
              .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
              .distinct())
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (pairs.join(sh_a, "id_a").join(sh_b, "id_b")
            .select("id_a", "id_b",
                    (F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                     / F.size(F.array_union("sh_a", "sh_b")))
                    .alias("jaccard")))


# ------------------------------------------------- connected components

def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 20) -> DataFrame:
    """Duplicate-group clustering: connected components of the
    candidate-pair graph via min-label propagation, returning
    (id, component) where component = min id in the component.

    The iterative dataflow (the standard large-scale CC shape, cf.
    GraphX/GraphFrames): each round every node adopts the minimum label
    among itself and its neighbors; converges in O(component diameter)
    rounds — near-dup graphs are shallow, so single digits. Each round
    is one shuffle of (node, label) pairs; materializing each round cuts
    the growing lineage so round N doesn't replay rounds 1..N-1. The
    driver sees only a per-round convergence *count*, never row data.
    """
    # materialize the symmetric edge list: it feeds the seed AND
    # every propagation round — without it the caller's (expensive,
    # LSH-derived) edge computation re-runs once per round, the same
    # re-derivation the sf1 probe caught in the graph queries
    sym, _ = _materialize(
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .union(edges.select(F.col(dst).alias("e_src"),
                            F.col(src).alias("e_dst"))))
    # seed label = min(id, direct neighbors): one aggregation instead of
    # an identity round — saves a full propagate+checkpoint+count cycle
    labels, _ = _materialize(
        sym.groupBy(F.col("e_src").alias("id"))
        .agg(F.min("e_dst").alias("min_dst"))
        .select("id", F.least("id", "min_dst").alias("label")))
    for _ in range(max_iter):
        neigh = (sym.join(labels, sym.e_src == labels.id)
                    .groupBy(F.col("e_dst").alias("n_id"))
                    .agg(F.min("label").alias("n_min")))
        new = (labels.join(neigh, labels.id == neigh.n_id, "left")
               .select(F.col("id"),
                       F.least(F.col("label"),
                               F.coalesce(F.col("n_min"), F.col("label")))
                       .alias("new_label"),
                       F.col("label").alias("old_label")))
        new, _ = _materialize(new)
        changed = new.filter(F.col("new_label") < F.col("old_label")).count()
        labels = new.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        # silent non-convergence would emit WRONG component labels
        # (canonical ids that aren't the component minimum) — a long
        # chain simply needs more rounds than max_iter
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "rounds; raise max_iter (label propagation needs "
            "O(component diameter) rounds)")
    return labels.select("id", F.col("label").alias("component"))


# ---------------------------------------------------------------- simhash

def simhash(text_tokens: Column, bits: int = 16) -> Column:
    """b-bit SimHash from token md5 nibbles.

    bit_j = sign of Σ_tokens (nibble_j(md5(tok)) ≥ 8 ? +1 : −1); the
    signature packs the bits little-endian. One md5 per token (hashed
    array reused across bits), fold per bit — all codegen.
    """
    hashed = F.transform(text_tokens, lambda t: F.md5(t))
    high = list("89abcdef")

    def bit(j: int) -> Column:
        tally = F.aggregate(
            hashed, F.lit(0),
            lambda acc, h: acc + F.when(
                F.substring(h, j + 1, 1).isin(*high), 1).otherwise(-1))
        return F.when(tally > 0, F.lit(2 ** j)).otherwise(F.lit(0))

    out = F.lit(0)
    for j in range(bits):
        out = out + bit(j)
    return out.cast("bigint")


def simhash_band_pairs(sigs: DataFrame, id_col: str = "doc_id",
                       sig_col: str = "sig", n_bands: int = 4,
                       band_bits: int = 8) -> DataFrame:
    """Banded candidate generation over SimHash signatures: split each
    signature into ``n_bands`` bands of ``band_bits`` bits; any pair
    equal on at least one band is a candidate. Pigeonhole guarantee:
    a pair within hamming distance ``n_bands - 1`` differs in fewer
    bits than there are bands, so at least one band is intact on both
    sides — recall at that radius is 1.0 by construction, not
    probabilistic. All joins are equi-joins on (band_id, band_val);
    the shuffle carries (id, signature), never the text.
    Returns distinct (id_a, id_b, sig_a, sig_b) with id_a < id_b."""
    bands, _ = _materialize(sigs.select(
        F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"),
                     F.shiftright(F.col(sig_col), band_bits * b)
                     .bitwiseAND(F.lit(2 ** band_bits - 1))
                     .alias("band_val"))
            for b in range(n_bands)])).alias("bb"))
        .select("_id", "_sig", "bb.band_id", "bb.band_val"))
    # materialize: both self-join sides read the materialized band
    # frame — without it the caller's signature computation (e.g. 32
    # md5-nibble folds per doc for simhash) runs twice (measured
    # 13.3→10.3 s at the sf1 probe scale)
    x = bands.alias("x")
    y = bands.alias("y")
    return (x.join(y, (F.col("x.band_id") == F.col("y.band_id"))
                   & (F.col("x.band_val") == F.col("y.band_val"))
                   & (F.col("x._id") < F.col("y._id")))
            .select(F.col("x._id").alias("id_a"),
                    F.col("y._id").alias("id_b"),
                    F.col("x._sig").alias("sig_a"),
                    F.col("y._sig").alias("sig_b"))
            .dropDuplicates(["id_a", "id_b"]))


# ---------------------------------------------------------------- jaccard

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        shingle_k: int = 3,
                        threshold: float = 0.5,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard via an inverted-index join.

    explode distinct shingles → equi-join on shingle → per-pair common
    count → Jaccard from set sizes.

    ``max_doc_freq`` is the stop-shingle cut that bounds the join
    fan-out: a shingle shared by k documents produces k² join rows, so
    one ubiquitous shingle makes the self-join quadratic. With the cap,
    shingles whose document frequency exceeds it are removed from every
    document's set *before* the join, and set sizes are recomputed
    post-cut — Jaccard is then exact over the capped shingle sets
    (near-dup pairs share predominantly rare shingles, so high-DF
    shingles carry almost no signal anyway). Join input is bounded by
    DF ≤ cap per shingle. Without the cap (None) this is the verify
    primitive to run on pre-pruned candidates only.
    """
    # INLINE explode (r14): exploding an aliased computed array column
    # re-evaluates the shingle builder once per OUTPUT row under
    # whole-stage codegen (measured 3.0 s vs 1.9 s for this query at
    # sf0.1) — the generator input must be the array expression itself.
    # No empty-set filter needed: explode of an empty array emits
    # nothing.
    #
    # HASHED KEYS (r15, guide §2.3 "shuffle fewer bytes / narrower
    # types"): every downstream operator — the DF-cap groupBy, the
    # rare-set join, the materialize write, and the inverted-index
    # self-join — keys on the shingle only to COUNT matches per id
    # pair; the string itself never reaches the output. Hashing each
    # shingle to int64 (xxhash64) right after the explode shrinks the
    # shuffle/checkpoint payload from a ~20-40-byte string to 8 bytes
    # and makes the self-join compare longs. Results are identical
    # unless two DISTINCT shingles of the corpus collide under
    # xxhash64 (expected collisions ≈ n²/2⁶⁵ — ~3e-8 even at a billion
    # distinct shingles; the gate corpora are verified hash-exact
    # against the string-keyed DuckDB oracle).
    inv = df.select(F.col(id_col).alias("id"),
                    F.explode(shingles(F.col(text_col), shingle_k))
                    .alias("shingle"))
    inv = inv.select("id", F.xxhash64("shingle").alias("shingle"))
    if max_doc_freq is not None:
        # ANTI-join against the HOT set (r15, guide §2.3/§3.2): the
        # DF cut used to inner-join inv with `rare` (every KEPT
        # shingle — nearly all of them), a shuffle join whose build
        # side is corpus-sized. The complement set `hot` (stop-
        # shingles with DF > cap) is tiny — bounded by total
        # occurrences / cap — so the left_anti form gives AQE a
        # build side it can broadcast at runtime, dropping the
        # inv-side exchange of the cut entirely. Row-identical:
        # rare/hot are complementary outputs of the same groupBy
        # (unique keys), so inner-with-rare ≡ anti-with-hot.
        hot = (inv.groupBy("shingle")
               .agg(F.count("*").alias("df_"))
               .filter(F.col("df_") > max_doc_freq)
               .select("shingle"))
        # materialize: the capped index feeds sizes AND both join
        # sides — without it the DF-cap shuffle join re-derives 3x
        # (measured 1.2x at the sf1 probe scale, and the gap widens
        # with data since the recompute includes a growing shuffle)
        inv, _ = _materialize(inv.join(hot, "shingle", "left_anti"))
    sizes = inv.groupBy("id").agg(F.count("*").alias("n"))
    a, b = inv.alias("a"), inv.alias("b")
    common = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                     & (F.col("a.id") < F.col("b.id")))
               .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
               .agg(F.count("*").alias("n_common")))
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (common.join(na, "id_a").join(nb, "id_b")
            .select("id_a", "id_b",
                    (F.col("n_common").cast("double")
                     / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def ngram_containment_pairs(df: DataFrame, id_col: str, text_col: str,
                            shingle_k: int = 3,
                            threshold: float = 0.8,
                            max_doc_freq: int | None = None) -> DataFrame:
    """ASYMMETRIC containment C(A⊂B) = |A∩B| / |A| — the
    boilerplate/quote detector Jaccard misses: a short document pasted
    inside a much longer one has tiny Jaccard (the union is huge) but
    containment ≈ 1. Returns DIRECTED pairs (contained_id,
    container_id, containment) over distinct ids with
    containment ≥ ``threshold``, both directions evaluated.

    Same inverted-index shape (and stop-shingle DF cap, recomputed
    sizes) as :func:`ngram_jaccard_pairs`: the join fan-out bound and
    the 100 TB posture are identical; only the final ratio differs —
    divide by the CONTAINED side's set size instead of the union."""
    # inline explode — see ngram_jaccard_pairs (same ~1.6x win);
    # int64 shingle keys (r15) — same argument as ngram_jaccard_pairs
    inv = df.select(F.col(id_col).alias("id"),
                    F.explode(shingles(F.col(text_col), shingle_k))
                    .alias("shingle"))
    inv = inv.select("id", F.xxhash64("shingle").alias("shingle"))
    if max_doc_freq is not None:
        # anti-join against the tiny HOT set — see ngram_jaccard_pairs
        hot = (inv.groupBy("shingle")
               .agg(F.count("*").alias("df_"))
               .filter(F.col("df_") > max_doc_freq)
               .select("shingle"))
        # same 3-reference shape as ngram_jaccard_pairs: one
        # materialization of the capped index
        inv, _ = _materialize(inv.join(hot, "shingle", "left_anti"))
    sizes = inv.groupBy("id").agg(F.count("*").alias("n"))
    # HALVED self-join (r15, guide §2.3 "shuffle fewer bytes"):
    # |A∩B| is symmetric, so the undirected a.id < b.id join carries
    # exactly the information of the old a.id != b.id join at HALF the
    # join output and half the pair-aggregation input — on the
    # slowest bench query, the self-join fan-out is the dominant cost.
    # Both directed ratios are re-emitted afterwards from one
    # undirected row (n_common/n_a and n_common/n_b) via a 2-element
    # explode, which is a narrow per-row operation, so the result set
    # is IDENTICAL to evaluating both join orientations.
    a, b = inv.alias("a"), inv.alias("b")
    common = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                     & (F.col("a.id") < F.col("b.id")))
               .groupBy(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"))
               .agg(F.count("*").alias("n_common")))
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    both = F.explode(F.array(
        F.struct(F.col("id_a").alias("contained_id"),
                 F.col("id_b").alias("container_id"),
                 (F.col("n_common").cast("double") / F.col("n_a"))
                 .alias("containment")),
        F.struct(F.col("id_b").alias("contained_id"),
                 F.col("id_a").alias("container_id"),
                 (F.col("n_common").cast("double") / F.col("n_b"))
                 .alias("containment"))))
    return (common.join(na, "id_a").join(nb, "id_b")
            .select(both.alias("p"))
            .select("p.*")
            .filter(F.col("containment") >= threshold))


def lsh_candidate_pairs_xx(df: DataFrame, id_col: str, text_col: str,
                           k: int = 8, bands: int = 4,
                           shingle_k: int = 3) -> DataFrame:
    """Production-speed twin of :func:`lsh_candidate_pairs`: signatures
    come from ``xxhash64(i, shingle)`` inside an array ``transform`` —
    one PROJECTION computes all k minhashes per document, so the
    signature stage has NO shuffle at all (the portable variant's
    explode → groupBy shuffle exists only because md5-hex hashing is
    worth evaluating once per shingle). Band join and exact-Jaccard
    verify are identical, so precision is exact; candidate RECALL
    differs only through banding luck of a different hash family,
    which ``tests/test_operators.py`` pins against brute-force truth.
    Not DuckDB-oracle-able (no xxhash64 there) — the portable variant
    carries the SQL gate, this one carries the bench.

    Measured at sf0.1 / local[32] (best-of-3, noop sink): explode-form
    xxhash ≈ explode-form md5 (the hash function is NOT the
    bottleneck — the signature shuffle and verify joins are);
    transform-form xxhash ≈ 0.8× explode-form (the shuffle elimination
    is the real win); persisting the shingle frame for the verify
    joins LOSES at this scale (serialization > codegen recompute —
    revisit on a real cluster where the scan is remote)."""
    if k % bands:
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    rows = k // bands
    # pre-filter on raw token count instead of size() of the computed
    # array — see the r14 batch-4 note in _lsh_band_long
    sh = df.filter(F.size(tokens(F.col(text_col))) >= shingle_k) \
           .select(F.col(id_col).alias("id"),
                   shingles(F.col(text_col), shingle_k).alias("sh"))
    sig = sh.select("id", *minhash_signature_xx(F.col("sh"), k))
    band_cols = [
        F.concat_ws("|", F.lit(b),
                    *[F.col(f"mh{b * rows + r}") for r in range(rows)])
        .alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    long = banded.select(
        "id", F.explode(F.array(*[F.col(f"band{b}") for b in range(bands)]))
        .alias("band_key"))
    a, b = long.alias("a"), long.alias("b")
    pairs = (a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.id") < F.col("b.id")))
              .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
              .distinct())
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (pairs.join(sh_a, "id_a").join(sh_b, "id_b")
            .select("id_a", "id_b",
                    (F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                     / F.size(F.array_union("sh_a", "sh_b")))
                    .alias("jaccard")))


# ---------------------------------------------------------- edit distance

def editdist_segments(k: int, length: int) -> list[tuple[int, int]]:
    """PassJoin segmentation (Li et al., VLDB 2011 — public paper):
    split ``[0, length)`` into ``k + 1`` near-even contiguous
    segments, longer ones last, returned as (start, len) pairs. With
    at most ``k`` edits between two strings, the pigeonhole principle
    leaves at least one segment untouched — the basis of the lossless
    signature join in :func:`editdist_pairs`. The pigeonhole argument
    needs ``k + 1`` NON-EMPTY segments: a zero-length segment's
    empty-string signature collides across every document (a quadratic
    candidate blowup with no error), so short lengths are rejected."""
    if k < 1 or length < k + 1:
        raise ValueError(
            f"editdist segmentation needs k >= 1 and length >= k + 1 "
            f"(got k={k}, length={length}): k+1 non-empty segments "
            "are required for the pigeonhole signature join")
    base, rem = divmod(length, k + 1)
    segs, start = [], 0
    for i in range(k + 1):
        seg_len = base + (1 if i >= (k + 1 - rem) else 0)
        segs.append((start, seg_len))
        start += seg_len
    return segs


#: verify-join strategy cap (r15, guide §3.1): candidate id pairs
#: below this count broadcast (two 8-byte ids per row — 1M pairs is a
#: ~25 MB hash relation, comfortably under Spark's broadcast limits);
#: above it the verify joins fall back to merge-hinted sort-merge, the
#: strategy that never collects anything and shuffles each side once.
_CAND_BROADCAST_CAP = 1_000_000


def _verify_frame(cand: DataFrame, side_a: DataFrame, side_b: DataFrame,
                  cap: int) -> DataFrame:
    """``cand`` (id_a, id_b) with each member's text attached from
    ``side_a`` (id_a, x_a) and ``side_b`` (id_b, x_b). Every join has
    an explicit strategy, so no plan ever broadcasts text: below
    ``cap`` materialized pairs, each side is looked up against a
    broadcast of the bare id pairs and the two halves sort-merge on
    the pair; above it, both lookups sort-merge by id."""
    cand, n_cand = _materialize(cand)
    if n_cand <= cap:
        ids = F.broadcast(cand)
        return (ids.join(side_a, "id_a").hint("merge")
                .join(ids.join(side_b, "id_b").hint("merge"),
                      ["id_a", "id_b"]))
    return (cand.join(side_a.hint("merge"), "id_a")
            .join(side_b.hint("merge"), "id_b"))


def editdist_pairs(df: DataFrame, id_col: str, text_col: str,
                   k: int = 2, prefix_len: int = 64,
                   cand_broadcast_cap: int = _CAND_BROADCAST_CAP,
                   ) -> DataFrame:
    """EXACT edit-distance near-dup join over the first
    ``prefix_len`` characters: all pairs with
    ``levenshtein(prefix_a, prefix_b) <= k`` among documents at least
    ``prefix_len`` chars long, as (id_a < id_b, dist).

    Scale shape — the PassJoin signature join, never the quadratic
    verify: each document emits ``k + 1`` SEGMENT rows (its prefix
    split into k+1 disjoint pieces at canonical positions) and at most
    ``(k + 1)(2k + 1)`` PROBE rows (the same pieces' windows shifted
    by δ ∈ [-k, k], clipped to the prefix bounds); candidates are the
    equi-join on (segment index, content). LOSSLESS by pigeonhole:
    with both prefixes exactly ``prefix_len`` chars, ≤ k edits leave
    some segment of ``a`` untouched, and its image in ``b`` is an
    identical contiguous substring shifted by (#ins − #del before it)
    ∈ [-k, k], inside ``b``'s bounds — so the (seg, sig) keys collide
    at one of the probe windows. The δ-window join is the standard
    MapReduce shape: candidate volume is bounded by signature
    collisions (rare 21-char substrings), never |docs|². Candidates
    are then verified with the built-in ``levenshtein`` (JVM-side),
    so the output is exact regardless of how tight the filter was.
    The oracle-gated twin (``dedup_editdist``) pins this against
    DuckDB's brute-force pairwise levenshtein."""
    p = F.substring(F.col(text_col), 1, prefix_len)
    base = (df.filter(F.length(F.col(text_col)) >= prefix_len)
            .select(F.col(id_col).alias("id"), p.alias("p")))
    segs = editdist_segments(k, prefix_len)
    # ONE scan per side via explode-over-array, not a (k+1)- and a
    # (k+1)(2k+1)-way union of re-scans: the signature generation is
    # a pure per-row projection, so its parallelism should be scan
    # parallelism — and whole-stage codegen keeps the substring
    # battery in one pass over the prefix
    seg_arr = F.array(*[
        F.struct(F.lit(i).alias("seg"),
                 F.substring("p", s + 1, seg_len).alias("sig"))
        for i, (s, seg_len) in enumerate(segs)])
    # HASHED SIGNATURE KEYS (r15, guide §2.3): the (seg, sig) equi-join
    # only DISCOVERS candidate id pairs — the signature substring never
    # reaches the output, and the exact levenshtein verify below makes
    # the result immune to hash collisions: equal strings always hash
    # equal (no candidate is ever lost — PassJoin's losslessness is
    # preserved verbatim), and a collision-induced extra candidate
    # either fails the verify or is a true pair the genuine signature
    # match already produced (dropDuplicates merges it). Output is
    # therefore IDENTICAL by construction, while the shuffle carries an
    # 8-byte long instead of a (seg, substring) pair.
    seg_rows = (base.select(F.col("id").alias("id_s"),
                            F.explode(seg_arr).alias("e"))
                .select("id_s", F.xxhash64("e.seg", "e.sig").alias("hk")))
    probe_structs = [
        F.struct(F.lit(i).alias("seg"),
                 F.substring("p", s + d + 1, seg_len).alias("sig"))
        for i, (s, seg_len) in enumerate(segs)
        for d in range(-k, k + 1)
        # clipped windows: the true match always lies inside b
        if 0 <= s + d and s + d + seg_len <= prefix_len]
    probe_rows = (base.select(F.col("id").alias("id_p"),
                              F.explode(F.array(*probe_structs))
                              .alias("e"))
                  .select("id_p", F.xxhash64("e.seg", "e.sig").alias("hk")))
    cand = (seg_rows.join(probe_rows, "hk")
            .filter(F.col("id_s") != F.col("id_p"))
            .select(F.least("id_s", "id_p").alias("id_a"),
                    F.greatest("id_s", "id_p").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    # adaptive verify join — same §3.1 rationale as
    # editdist_pairs_full: never broadcast the corpus prefixes
    pa = base.select(F.col("id").alias("id_a"), F.col("p").alias("p_a"))
    pb = base.select(F.col("id").alias("id_b"), F.col("p").alias("p_b"))
    return (_verify_frame(cand, pa, pb, cand_broadcast_cap)
            .withColumn("dist", F.levenshtein("p_a", "p_b"))
            .filter(F.col("dist") <= k)
            .select("id_a", "id_b", "dist"))


#: short-bucket completion broadcasts the < k+1-char population;
#: F.broadcast is a HARD hint, so a corpus dominated by tiny/empty
#: strings could OOM the driver — above this row count the completion
#: falls back to a salted length-key equi-join instead (round-12
#: ADVICE). 500k rows of <= k-char strings is ~15 MB serialized.
_SHORT_BROADCAST_CAP = 500_000


def editdist_pairs_full(df: DataFrame, id_col: str, text_col: str,
                        k: int = 2,
                        short_broadcast_cap: int = _SHORT_BROADCAST_CAP,
                        cand_broadcast_cap: int = _CAND_BROADCAST_CAP,
                        ) -> DataFrame:
    """FULL-TEXT exact edit-distance near-dup join (round 12): ALL
    pairs with ``levenshtein(text_a, text_b) <= k`` over WHOLE
    documents of ANY length — lifting both limits of
    :func:`editdist_pairs` (64-char prefix scope; docs shorter than
    the prefix silently excluded) via the variable-length PassJoin
    scheme (Li et al., VLDB 2011), plus a bounded brute-force bucket
    for strings too short to segment.

    Scale shape — same as the prefix version, with per-row COMPUTED
    segment geometry instead of literals: each document of length
    ``l`` indexes its ``k + 1`` segments keyed by ``(l, seg_idx,
    content)``; each document of length ``m`` probes the segment
    positions of every candidate length ``l ∈ [m - k, m]`` (length
    filtering is free: ``|m - l| > k`` implies distance ``> k``),
    emitting the substrings at positions shifted by ``δ ∈ [-k, k]``
    and clipped to its bounds — ``(k+1)²(2k+1)`` probe rows per doc
    at most (45 for k=2), all built in ONE whole-stage-codegen
    projection (integer division/modulo on the length column; no
    Python). LOSSLESS by the same pigeonhole: ≤ k edits leave some
    segment of the SHORTER string untouched, and its image in the
    longer one is an identical substring shifted by the net
    insertions/deletions before it ∈ [-k, k]. Candidates equi-join on
    ``(l, seg, content)`` — collision-bounded, never |docs|² — and
    the built-in banded ``levenshtein(·, ·, k)`` verifies exactly.

    Documents shorter than ``k + 1`` characters cannot be segmented
    (the pigeonhole needs k+1 non-empty pieces); they are handled by
    a SHORT-BUCKET completion instead: every such string is paired by
    brute force against the (tiny) population of strings no longer
    than ``2k`` characters — its only possible partners, since a
    length gap over ``k`` forces distance over ``k``. The bucket is
    bounded by the ≤2k-char population (at k=2, strings of ≤4 chars —
    degenerate rows, not documents), so the quadratic term can never
    touch the corpus; the result is COMPLETE over all lengths.

    The completion broadcasts the short side only while it stays
    under ``short_broadcast_cap`` rows (one bounded count checks);
    above the cap — a corpus pathologically heavy in tiny strings —
    it switches to a distributed equi-join: each short row explodes
    to its 2k+1 admissible partner lengths × a small salt range,
    partners carry ``(length, hash-salt)``, and the join shuffles on
    that composite key, so no driver/executor broadcast OOM is
    possible (the per-length quadratic pairing is inherent — tiny
    strings within k edits genuinely all match — but it executes
    distributed across length×salt reducers)."""
    if k < 1:
        raise ValueError(f"editdist join needs k >= 1 (got {k})")
    base = (df.filter(F.length(F.col(text_col)) >= k + 1)
            .select(F.col(id_col).alias("id"),
                    F.col(text_col).alias("t"),
                    F.length(F.col(text_col)).alias("m")))
    short = (df.filter(F.length(F.col(text_col)) < k + 1)
             .select(F.col(id_col).alias("id"),
                     F.col(text_col).alias("t"),
                     F.length(F.col(text_col)).alias("m")))

    def seg_geometry(l):
        """(start, len) column pairs of the k+1 segments of an
        l-length string: near-even split, longer segments last —
        byte-for-byte the plan of :func:`editdist_segments`, as
        integer column arithmetic."""
        b, rem = (l / (k + 1)).cast("int"), l % (k + 1)
        out = []
        for i in range(k + 1):
            plus_ones = F.greatest(F.lit(0), F.lit(i) - (k + 1 - rem))
            start = F.lit(i) * b + plus_ones
            seg_len = b + F.when(F.lit(i) >= (k + 1) - rem, 1) \
                           .otherwise(0)
            out.append((start, seg_len))
        return out

    idx_structs = [
        F.struct(F.col("m").alias("l"), F.lit(i).alias("seg"),
                 F.col("t").substr(start + 1, seg_len).alias("sig"))
        for i, (start, seg_len) in enumerate(seg_geometry(F.col("m")))]
    # hashed (l, seg, sig) join key (r15) — same collision-immune
    # argument as editdist_pairs: the banded-levenshtein verify makes
    # the output identical by construction while the candidate join
    # shuffles 8-byte longs instead of (length, seg, substring) rows
    # whose substrings are ~l/(k+1) characters each
    seg_rows = (base.select(F.col("id").alias("id_s"),
                            F.explode(F.array(*idx_structs)).alias("e"))
                .select("id_s",
                        F.xxhash64("e.l", "e.seg", "e.sig").alias("hk")))
    # two-level explode keeps the generated code small (one flat
    # all-struct projection duplicates the geometry arithmetic per
    # probe and blows janino's method-size limit — whole rows fall
    # back to interpreted eval): level 1 emits the (k+1)² (candidate
    # length, segment, position, seg_len, shift window) geometry
    # rows, level 2 one shifted substring per in-window shift. Both
    # are narrow pipelined explodes in one stage — no extra shuffle.
    #
    # Shift windows are MULTI-MATCH-AWARE (PassJoin, Li et al. VLDB
    # 2011, substring-selection lemma), not the naive ±k: probing
    # segment i (0-based) of a candidate length l from a string of
    # length m with Δ = m - l ∈ [0, k], it suffices to emit shifts
    #   δ ∈ [max(-i, Δ - (k - i)), min(i, Δ + (k - i))]
    # — edits BEFORE the matching segment are bounded by both the
    # segment index (≤ i of them can shift left) and the budget left
    # for the segments AFTER it (k - i, net Δ of them forced by the
    # length gap). Completeness is across segments: ≤ k edits leave
    # some segment whose image lands inside ITS window (pinned by the
    # brute-force parity tests). At k=2 this emits ≤ 12 probe rows
    # per (doc, candidate length) triple instead of 45.
    geo_structs = []
    for dl in range(-k, 1):
        l = F.col("m") + dl
        delta = -dl
        for i, (start, seg_len) in enumerate(seg_geometry(l)):
            lo = max(-i, delta - (k - i))
            hi = min(i, delta + (k - i))
            geo_structs.append(
                F.struct(l.alias("l"), F.lit(i).alias("seg"),
                         start.alias("p"), seg_len.alias("sl"),
                         F.lit(lo).alias("lo"), F.lit(hi).alias("hi")))
    geo = (base.select("id", "t", "m",
                       F.explode(F.array(*geo_structs)).alias("g"))
           .filter(F.col("g.l") >= k + 1))
    probe_rows = (geo
                  .select("id", "t", "m", "g",
                          F.explode(F.sequence(
                              F.col("g.lo"), F.col("g.hi")))
                          .alias("d"))
                  .filter((F.col("g.p") + F.col("d") >= 0)
                          & (F.col("g.p") + F.col("d") + F.col("g.sl")
                             <= F.col("m")))
                  .select(F.col("id").alias("id_p"),
                          F.xxhash64(
                              F.col("g.l"), F.col("g.seg"),
                              F.col("t").substr(
                                  F.col("g.p") + F.col("d") + 1,
                                  F.col("g.sl"))).alias("hk")))
    cand = (seg_rows.join(probe_rows, "hk")
            .filter(F.col("id_s") != F.col("id_p"))
            .select(F.least("id_s", "id_p").alias("id_a"),
                    F.greatest("id_s", "id_p").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    # ADAPTIVE verify join (r15, guide §3.1 "pick the strategy
    # deliberately"; VERDICT r14 #3). Unhinted, Catalyst's static
    # estimate put the TEXT sides under the broadcast threshold and
    # planned BuildRight broadcasts of the corpus texts — collecting
    # every document to the driver twice per run (measured 8.2 s for a
    # 5 345-candidate verify at the sf1 decade) and an OOM-by-design
    # at real scale, where the corpus can never broadcast. The
    # candidate side (8-byte id pairs) is the side that CAN broadcast
    # — but only usually: PassJoin does not bound candidate count on
    # adversarial corpora, so a hard F.broadcast(cand) would trade the
    # driver OOM for an executor one. Same resolution as the short
    # bucket below: :func:`_verify_frame` counts cand and broadcasts it
    # only below the cap (sf1 A/B, 5 345 candidates: broadcast-cand
    # 0.81 s, merge 2.26 s, text broadcast 8.29 s).
    ta = base.select(F.col("id").alias("id_a"), F.col("t").alias("t_a"))
    tb = base.select(F.col("id").alias("id_b"), F.col("t").alias("t_b"))
    long_pairs = (_verify_frame(cand, ta, tb, cand_broadcast_cap)
                  .withColumn("dist",
                              F.levenshtein("t_a", "t_b", k))  # banded
                  .filter(F.col("dist") >= 0)
                  .select("id_a", "id_b", "dist"))
    # short-bucket completion: a string shorter than k+1 chars can
    # only match strings of length <= its own + k <= 2k; pair the
    # short side against that bounded bucket directly. Disjoint from
    # the signature path by construction (every pair here has a
    # member the segmented side excluded).
    # ONE bounded materialization decides the completion strategy AND
    # short-circuits the empty bucket: a real corpus rarely has any
    # sub-(k+1)-char rows, so the common case pays a single
    # limit-(cap+1) scan and skips the completion join entirely
    # (round-13 ADVICE — the unconditional count was a per-call
    # driver action even for an empty bucket). When the bucket fits
    # the cap, the materialized probe IS the whole short side, so
    # the broadcast below re-reads it for free.
    short_probe, n_short = _materialize(
        short.limit(short_broadcast_cap + 1))
    if n_short == 0:
        return long_pairs
    partners = (df.filter(F.length(F.col(text_col)) <= 2 * k)
                .select(F.col(id_col).alias("pid"),
                        F.col(text_col).alias("pt"),
                        F.length(F.col(text_col)).alias("pm")))
    if n_short <= short_broadcast_cap:
        joined = partners.join(
            F.broadcast(short_probe),
            (F.col("id") != F.col("pid"))
            & (F.abs(F.col("m") - F.col("pm")) <= k))
    else:
        # salted length-key equi-join: shuffle, never broadcast. The
        # short side fans out (2k+1) lengths x n_salt; partners hash
        # to one salt each, so every admissible (length, salt) bucket
        # meets exactly once.
        n_salt = 32
        s_exp = (short
                 .withColumn("pm_key", F.explode(F.sequence(
                     F.greatest(F.lit(0), F.col("m") - k),
                     F.col("m") + k)))
                 .withColumn("salt_s", F.explode(F.sequence(
                     F.lit(0), F.lit(n_salt - 1)))))
        p_salt = partners.withColumn(
            "salt_p", F.pmod(F.xxhash64("pid"), F.lit(n_salt))
            .cast("int"))
        joined = (p_salt.join(
            s_exp, (F.col("pm_key") == F.col("pm"))
            & (F.col("salt_s") == F.col("salt_p")))
            .filter(F.col("id") != F.col("pid")))
    short_pairs = (
        joined
        .withColumn("dist", F.levenshtein(F.col("t"),
                                          F.col("pt"), k))
        .filter(F.col("dist") >= 0)
        .select(F.least(F.col("id"), F.col("pid")).alias("id_a"),
                F.greatest(F.col("id"), F.col("pid")).alias("id_b"),
                "dist")
        .dropDuplicates(["id_a", "id_b"]))
    return long_pairs.unionByName(short_pairs)
