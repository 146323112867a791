"""Clustering over embedding columns (SURVEY.md §2.3 extension
surface): distributed Lloyd k-means expressed Spark-first.

The iteration structure is the one every large-scale k-means uses
(including Spark MLlib's): assignment is a per-row argmax over k
centroid scores — pure JVM codegen expressions, no UDF — and the
update step shuffles only (cluster, dim) partial sums, bounded by
k x dim regardless of corpus size. Centroids sync through the driver
between iterations (k x dim doubles — a few KB at any scale), exactly
the MLlib/parameter-server pattern.

Cross-engine determinism: init centroids are md5-derived exact binary
fractions (``ivf_centroids``); updated centroids are rounded to 6
decimals on both engines (the ``embedding_centroids`` pattern) so the
float-summation order of AVG can't leak into the gate; every score is
a left-fold dot product matching DuckDB's ``list_dot_product`` on
DOUBLE[] bit-for-bit; argmax tie-breaks to the lowest cluster id on
both engines (array_position first-occurrence == ROW_NUMBER
score DESC, c ASC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aether_firebase_consumer_spark.functions.vectors import (
    _ivf_scores,
    _mat_key,
    cosine,
    ivf_cell,
    ivf_centroids,
    memo_col,
)
from aether_firebase_consumer_spark.materialize import materialize
from aether_firebase_consumer_spark.plans import REGISTRY, register
from aether_firebase_consumer_spark.tables import fan_out_for_compute, load_table

K, DIM = 8, 64
_KM_INIT = ivf_centroids("afcs-kmeans-v1", K, DIM)


def _scores0_sql(vec: str) -> str:
    """Init-centroid score list as a SQL literal expression — the same
    v·c − |c|²/2 arithmetic (bias precomputed in Python, added after
    the dot product) as the Spark-side ``ivf_cell``."""
    from aether_firebase_consumer_spark.functions.vectors import (
        ivf_cell_scores,
    )
    biases = ivf_cell_scores(_KM_INIT)
    scores = ", ".join(
        f"list_dot_product({vec}, "
        "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]) + " + repr(b)
        for c, b in zip(_KM_INIT, biases))
    return f"[{scores}]"


@register(
    "embedding_kmeans",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    a0 AS (
      SELECT vec_id, v,
             CAST(list_position({_scores0_sql('v')},
                                list_max({_scores0_sql('v')})) AS INT) AS c
      FROM e
    ),
    upd AS (
      SELECT c, j, ROUND(AVG(v[j]), 6) AS m
      FROM a0, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS j)
      GROUP BY c, j
    ),
    cent1 AS (
      SELECT c, list(m ORDER BY j) AS cv
      FROM upd GROUP BY c
    ),
    s1 AS (
      SELECT e.vec_id, cent1.c,
             list_dot_product(e.v, cent1.cv)
               - 0.5 * list_dot_product(cent1.cv, cent1.cv) AS score
      FROM e CROSS JOIN cent1
    ),
    a1 AS (
      SELECT vec_id, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, c) AS rn
      FROM s1
    )
    SELECT vec_id, CAST(c AS INT) AS cluster
    FROM a1 WHERE rn = 1
    """,
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (k={K}) over the embedding corpus —
    one full assign→update→reassign cycle, returning the post-update
    cluster of every vector.

    Plan shape (the 100 TB-correct one): assignment 0 is a per-row
    argmax over k literal-centroid scores (whole-stage codegen, zero
    shuffle); the update step posexplodes to (cluster, dim, value) and
    partial-avgs — the ONLY shuffle, carrying k x {DIM} partial sums,
    not vectors; the new centroids collect to the driver (k x {DIM}
    doubles) and re-enter iteration 1 as plan literals, so the second
    assignment is again shuffle-free codegen. More iterations repeat
    the same two jobs; convergence cost is iterations x (scan + tiny
    shuffle). Empty clusters drop out on both engines identically.
    """
    emb = fan_out_for_compute(load_table(spark, sf_dir, "embeddings"))

    # --- iteration 0: assign to nearest init centroid (codegen argmax)
    a0 = emb.withColumn("c", memo_col(("ivf_cell", "embedding", _mat_key(_KM_INIT)),
                 lambda: ivf_cell(F.col("embedding"), _KM_INIT)))

    # --- update: per-(cluster, dim) mean; shuffle bounded by k*dim
    upd = (a0.select("c", F.posexplode("embedding").alias("pos", "val"))
             .groupBy("c", "pos")
             .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m")))
    cents: dict[int, dict[int, float]] = {}
    for r in upd.collect():  # bounded: at most k*dim rows
        cents.setdefault(int(r["c"]), {})[int(r["pos"])] = float(r["m"])
    cells = sorted(cents)
    if not cells:
        # empty embeddings table: the oracle returns zero rows; the
        # literal-centroid build below would index cents[0] and crash
        return emb.select(
            "vec_id", F.lit(None).cast("int").alias("cluster")).limit(0)
    cent_list = [[cents[c][j] for j in range(DIM)] for c in cells]

    # --- iteration 1: reassign against the data-derived centroids
    scores = memo_col(("ivf_scores", "embedding", _mat_key(cent_list)),
                      lambda: _ivf_scores(F.col("embedding"), cent_list))
    pos = F.array_position(scores, F.array_max(scores))
    cell_ids = F.array(*[F.lit(c) for c in cells])
    return emb.select(
        "vec_id",
        F.element_at(cell_ids, pos.cast("int")).cast("int").alias("cluster"))


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS amax
      FROM e
    ),
    q AS (
      SELECT vec_id, v, amax,
             list_transform(v, x -> CAST(floor(x * 127.0 / amax + 0.5)
                                         AS INT)) AS qv
      FROM s WHERE amax > 0
    )
    SELECT vec_id,
           CAST(round(amax, 6) AS DOUBLE) AS scale_denom,
           CAST(list_max(qv) AS INT) AS q_max,
           CAST(list_min(qv) AS INT) AS q_min,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT)
             AS q_l1,
           CAST(len(list_filter(qv, x -> x = 0)) AS BIGINT) AS n_zero
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4x
    storage/bandwidth lever every 100 TB vector corpus pulls before
    indexing (scan cost and ANN candidate I/O drop with byte width;
    exact re-rank reads the fp32 originals for survivors only).

    Per-vector absmax scaling: q_i = floor(x_i * 127/absmax + 0.5) —
    the rounding is spelled out as floor(+0.5) because Spark's round()
    is HALF_UP while DuckDB's is banker's; writing the arithmetic
    explicitly makes both engines bit-identical, which is exactly the
    property a reproducible data pipeline needs from a quantizer.
    Whole plan is higher-order array expressions in codegen — no UDF,
    no shuffle, no collect; output is per-vector quantization stats
    (range, L1 mass, dead zeros) — the quantization-health audit."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v"))
    amax = F.array_max(F.transform("v", F.abs))
    s = e.select("vec_id", "v", amax.alias("amax")).filter(F.col("amax") > 0)
    qv = F.transform(
        "v", lambda x: F.floor(x * 127.0 / F.col("amax") + 0.5).cast("int"))
    q = s.select("vec_id", "amax", qv.alias("qv"))
    return q.select(
        "vec_id",
        F.round("amax", 6).cast("double").alias("scale_denom"),
        F.array_max("qv").cast("int").alias("q_max"),
        F.array_min("qv").cast("int").alias("q_min"),
        F.aggregate(F.transform("qv", F.abs), F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x).alias("q_l1"),
        F.size(F.filter("qv", lambda x: x == 0)).cast("bigint")
        .alias("n_zero"))


# The kmeans oracle reused as a subquery: cluster assignments feed a
# corpus-profile join, so the two queries stay definitionally in sync.
_KMEANS_ORACLE = REGISTRY["embedding_kmeans"].oracle


@register(
    "doc_cluster_profile",
    oracle=f"""
    WITH km AS ({_KMEANS_ORACLE})
    SELECT km.cluster,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
           CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(d.n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM km JOIN documents d ON d.doc_id = km.vec_id
    GROUP BY km.cluster
    """,
)
def doc_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-cluster corpus profile — the composition artifact a
    curation pipeline actually ships: k-means clusters over the
    embedding space joined back to document metadata, profiled per
    cluster (size, language diversity, text mass). Downstream this is
    the table that drives per-cluster sampling rates and topic-aware
    rebalancing. Plan: the k-means assignment (see
    ``embedding_kmeans``) joins documents on the key both tables
    share; one shuffle for the join co-location, one bounded-key
    aggregation. The oracle embeds the k-means oracle verbatim, so
    assignment semantics can never drift between the two queries."""
    docs = load_table(spark, sf_dir, "documents")
    km = embedding_kmeans(spark, sf_dir)
    return (km.join(docs, km.vec_id == docs.doc_id)
            .groupBy("cluster")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.countDistinct("lang").cast("bigint").alias("n_langs"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"),
                 (F.sum("n_chars").cast("double") / F.count("*"))
                 .alias("avg_chars")))


# importing the module registers the query whose oracle we embed —
# same pattern as _KMEANS_ORACLE above
from aether_firebase_consumer_spark.plans import similarity_queries  # noqa: F401,E402


def _neardup_oracle() -> str:
    return REGISTRY["similarity_embedding_neardup"].oracle


def _pagerank_oracle() -> str:
    it = """,
    s{n} AS (
      SELECT e.dst, SUM(r{p}.r // d.deg) AS s
      FROM e JOIN deg d USING (src)
      JOIN r{p} ON r{p}.vec_id = e.src
      GROUP BY e.dst
    ),
    r{n} AS (
      SELECT em.vec_id,
             CAST(150000000 + (85 * COALESCE(s{n}.s, 0)) // 100 AS BIGINT)
               AS r
      FROM embeddings em LEFT JOIN s{n} ON s{n}.dst = em.vec_id
    )"""
    sql = f"""
    WITH nd AS ({_neardup_oracle()}),
    e AS (
      SELECT id_a AS src, id_b AS dst FROM nd
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM nd
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
    r0 AS (SELECT vec_id, CAST(1000000000 AS BIGINT) AS r FROM embeddings)"""
    for n in (1, 2, 3):
        sql += it.format(n=n, p=n - 1)
    sql += """
    SELECT vec_id, r AS rank_scaled FROM r3
    """
    return sql


def _register_pagerank() -> None:
    @register("graph_pagerank_neardup", oracle=_pagerank_oracle())
    def graph_pagerank_neardup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
        """PageRank over the near-duplicate similarity graph (3
        iterations, damping 0.85) — graph analytics as a query: nodes
        are embedding vectors, undirected edges are the LSH-verified
        near-dup pairs (``similarity_embedding_neardup``, whose oracle
        this one embeds verbatim), and the rank surfaces hub documents
        inside duplication clusters — the ones to KEEP as canonical
        when collapsing a cluster.

        Cross-engine exactness: ranks are BIGINT scaled by 1e9 and
        every step is integer arithmetic — contribution = rank DIV
        degree, damping = 0.15e9 + (85*sum) DIV 100 — so the per-node
        contribution SUM is order-independent and hash-stable, where
        float PageRank could never pass a bit-exact gate. Plan shape
        (the Pregel-lite standard): per iteration one edges⋈ranks
        shuffle on src and one sum shuffle on dst; edges carry only
        (src, dst) ids; iterations compose lazily into one DAG — at
        scale you'd localCheckpoint between them like
        ``dedup_components`` does."""
        from aether_firebase_consumer_spark.plans.similarity_queries import (
            similarity_embedding_neardup,
        )
        emb = load_table(spark, sf_dir, "embeddings")
        # localCheckpoint: the near-dup pair derivation (banding +
        # candidate join + cosine verify — the expensive part) runs
        # ONCE; without it every edges reference in the 3-iteration
        # loop re-derives it (Spark has no common-subplan reuse),
        # which is what made the sf1 probe superlinear
        nd, _ = materialize(similarity_embedding_neardup(spark, sf_dir))
        edges = (nd.select(F.col("id_a").alias("src"),
                           F.col("id_b").alias("dst"))
                 .union(nd.select(F.col("id_b").alias("src"),
                                  F.col("id_a").alias("dst"))))
        deg = edges.groupBy("src").agg(F.count("*").cast("bigint")
                                       .alias("deg"))
        nodes = emb.select("vec_id")
        ranks = nodes.select(
            "vec_id", F.lit(10**9).cast("bigint").alias("r"))
        for _ in range(3):
            contrib = (edges.join(deg, "src")
                       .join(ranks.select(F.col("vec_id").alias("src"),
                                          "r"), "src")
                       .select("dst", F.expr("r div deg").alias("c")))
            sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            ranks = (nodes.join(sums, nodes.vec_id == sums.dst, "left")
                     .select(nodes.vec_id,
                             (F.lit(150000000).cast("bigint")
                              + F.expr("(85 * coalesce(s, 0)) div 100")
                              .cast("bigint")).alias("r")))
        return ranks.select("vec_id", F.col("r").alias("rank_scaled"))


_register_pagerank()


def _register_triangles() -> None:
    oracle = f"""
    WITH nd AS ({_neardup_oracle()}),
    e AS (SELECT id_a AS a, id_b AS b FROM nd),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY v
    ),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
      FROM (SELECT id_a AS v FROM nd UNION ALL SELECT id_b FROM nd)
      GROUP BY v
    )
    SELECT d.v AS vec_id, d.deg, COALESCE(p.n_tri, 0) AS n_triangles,
           CASE WHEN d.deg >= 2
                THEN CAST(2 * COALESCE(p.n_tri, 0) AS DOUBLE)
                     / (d.deg * (d.deg - 1))
                ELSE CAST(0 AS DOUBLE) END AS clustering_coef
    FROM deg d LEFT JOIN per_node p ON p.v = d.v
    """

    @register("graph_triangles_neardup", oracle=oracle)
    def graph_triangles_neardup(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
        """Per-node triangle counts + local clustering coefficient over
        the near-dup graph — the cohesion metric that separates a
        TIGHT duplication cluster (every member similar to every
        other: keep one canonical doc) from a CHAIN of borderline
        pairs (transitively linked but not mutually similar: collapse
        cautiously). Canonical-orientation triangle join (a<b<c via
        the pairs' id_a<id_b invariant): edges e1(a,b)⋈e2(b,c) probe
        e3(a,c) — each triangle found exactly once, the standard
        distributed triangle algorithm (two shuffles on edge
        endpoints; edges carry only id pairs). All counts integer →
        bit-exact gate; the coefficient's single float division is
        IEEE-identical on both engines."""
        from aether_firebase_consumer_spark.plans.similarity_queries import (
            similarity_embedding_neardup,
        )
        # one materialization: e1/e2/e3/deg all read the checkpointed
        # pairs instead of re-deriving the near-dup computation 4x
        nd, _ = materialize(similarity_embedding_neardup(spark, sf_dir)
                            .select("id_a", "id_b"))
        e1 = nd.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        e2 = nd.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
        e3 = nd.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
        tri = e1.join(e2, "b").join(e3, ["a", "c"])
        per_node = (tri.select(F.col("a").alias("v"))
                    .union(tri.select(F.col("b").alias("v")))
                    .union(tri.select(F.col("c").alias("v")))
                    .groupBy("v").agg(F.count("*").cast("bigint")
                                      .alias("n_tri")))
        deg = (nd.select(F.col("id_a").alias("v"))
               .union(nd.select(F.col("id_b").alias("v")))
               .groupBy("v").agg(F.count("*").cast("bigint").alias("deg")))
        out = deg.join(per_node, "v", "left")
        n_tri = F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint")
        coef = F.when(
            F.col("deg") >= 2,
            (2 * n_tri).cast("double") / (F.col("deg") * (F.col("deg") - 1))
        ).otherwise(F.lit(0.0))
        return out.select(F.col("v").alias("vec_id"), "deg",
                          n_tri.alias("n_triangles"),
                          coef.alias("clustering_coef"))


_register_triangles()


_SEM_THRESH = 0.35
_SEM_CAP = 512
_H60 = "(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))" \
    "::BIGINT % 2147483647)"


@register(
    "dedup_semantic_semdedup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    a AS (
      SELECT vec_id, v,
             CAST(list_position({{scores}},
                                list_max({{scores}})) AS INT) AS c
      FROM e
    ),
    a2 AS (
      SELECT vec_id, v, c,
             {_H60} % ((COUNT(*) OVER (PARTITION BY c)
                        + {_SEM_CAP - 1}) // {_SEM_CAP}) AS sub
      FROM a
    ),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM a2 x JOIN a2 b
        ON x.c = b.c AND x.sub = b.sub AND x.vec_id < b.vec_id
      WHERE list_dot_product(x.v, b.v)
            / (sqrt(list_dot_product(x.v, x.v))
               * sqrt(list_dot_product(b.v, b.v))) >= {_SEM_THRESH}
    )
    SELECT a.vec_id, a.c AS cluster,
           CAST(a.vec_id NOT IN (SELECT vec_id FROM drops) AS BOOLEAN)
             AS kept
    FROM a
    """.replace("{scores}", _scores0_sql('v')),
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public recipe): cluster the embedding corpus,
    then prune within-cluster near-duplicates by exact cosine, keeping
    the lowest-id representative of each epsilon-neighborhood (the
    same min-id keep rule as the MinHash/embedding dedup family).

    Plan shape: assignment is a zero-shuffle per-row argmax over k
    literal centroids (whole-stage codegen — the ``embedding_kmeans``
    iteration-0 expression); candidate pairs come from an EQUI-join on
    the (cluster, subcluster) key, never all-pairs. SemDeDup's cost
    model is quadratic in cluster size, so cluster size is CAPPED: a
    cluster of n vectors splits into ``ceil(n / 512)`` subclusters by
    portable hash (the ``split_train_hash`` md5 idiom — deterministic
    on any engine), and pairs are compared within a subcluster only.
    Total comparisons are therefore ≤ N·512 — LINEAR in the corpus —
    at the price of missing near-dups split across subclusters (the
    standard scalable-SemDeDup engineering trade; in the paper's own
    deployment k grows with N for the same reason — our cap gives the
    same bounded-cluster guarantee without data-dependent centroid
    counts, which the cross-engine oracle could not restate). At the
    sf0.01 gate every cluster is under the cap, so the gate pins the
    UNCAPPED recipe exactly; ``tools/scale_probe.py`` exercises the
    capped path at sf1 (clusters ~5x the cap). The oracle restates
    argmax + hash sub-split + join + cosine in DuckDB; output carries
    no floats, so the gate pins the threshold decision itself.
    Reference had no embedding surface (capability-gap category,
    SURVEY.md §2.3)."""
    emb = fan_out_for_compute(load_table(spark, sf_dir, "embeddings"))
    a = emb.select(
        "vec_id", "embedding",
        memo_col(("ivf_cell", "embedding", _mat_key(_KM_INIT)),
                 lambda: ivf_cell(F.col("embedding"), _KM_INIT)).alias("cluster"))
    return _semdedup_prune(a)


def _semdedup_prune(a: DataFrame) -> DataFrame:
    """The cap → sub-split → equi-join → cosine → min-id keep rule
    shared by both SemDeDup variants. ``a`` carries (vec_id,
    embedding, cluster); comparisons stay ≤ N·{cap} via the portable-
    hash subcluster split (see ``dedup_semantic_semdedup``)."""
    from aether_firebase_consumer_spark.operators.dedup import (
        portable_hash60,
    )
    # ONE materialization of the assignment (r14): `a` feeds the
    # cluster counts, the sub-split join, and the final keep-flag join
    # — 3 references, and only the self-join pair enjoys Spark's
    # exchange reuse, so without this the k-literal argmax (the
    # heaviest expression in the query) re-evaluates per reference
    # (measured med 5.98 s -> 2.43 s at sf0.1/local[32]). The policy
    # A/B and its cluster-mode caveat: :mod:`~..materialize`.
    a, _ = materialize(a)
    counts = a.groupBy("cluster").agg(F.count(F.lit(1)).alias("cnt"))
    a2 = (
        a.join(F.broadcast(counts), "cluster")   # k rows — broadcast
        .select(
            "vec_id", "embedding", "cluster",
            (portable_hash60(F.col("vec_id").cast("string"))
             % F.expr(f"CAST((cnt + {_SEM_CAP - 1}) DIV {_SEM_CAP}"
                      " AS BIGINT)")).alias("sub"))
    )
    left = a2.select(F.col("vec_id").alias("id_a"),
                     F.col("embedding").alias("va"), "cluster", "sub")
    right = a2.select(F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("vb"), "cluster", "sub")
    drops = (
        left.join(right, ["cluster", "sub"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= _SEM_THRESH)
        .select(F.col("id_b").alias("vec_id")).distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        a.select("vec_id", "cluster").join(drops, "vec_id", "left")
        .select("vec_id", "cluster",
                F.coalesce(~F.col("dropped"), F.lit(True)).alias("kept"))
    )


def _semdedup_tail_sql(assign_cte: str) -> str:
    """The oracle tail shared by both SemDeDup variants: ``assign_cte``
    must expose ``a(vec_id, v, c)``; the tail restates the hash
    sub-split, within-subcluster cosine join, and min-id keep rule."""
    return f"""
    {assign_cte},
    a2 AS (
      SELECT vec_id, v, c,
             {_H60} % ((COUNT(*) OVER (PARTITION BY c)
                        + {_SEM_CAP - 1}) // {_SEM_CAP}) AS sub
      FROM a
    ),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM a2 x JOIN a2 b
        ON x.c = b.c AND x.sub = b.sub AND x.vec_id < b.vec_id
      WHERE list_dot_product(x.v, b.v)
            / (sqrt(list_dot_product(x.v, x.v))
               * sqrt(list_dot_product(b.v, b.v))) >= {_SEM_THRESH}
    )
    SELECT a.vec_id, a.c AS cluster,
           CAST(a.vec_id NOT IN (SELECT vec_id FROM drops) AS BOOLEAN)
             AS kept
    FROM a
    """


@register(
    "dedup_semantic_semdedup_trained",
    oracle=_semdedup_tail_sql(f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    a0 AS (
      SELECT vec_id, v,
             CAST(list_position({{scores}},
                                list_max({{scores}})) AS INT) AS c
      FROM e
    ),
    upd AS (
      SELECT c, j, ROUND(AVG(v[j]), 6) AS m
      FROM a0, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS j)
      GROUP BY c, j
    ),
    cent1 AS (
      SELECT c, list(m ORDER BY j) AS cv
      FROM upd GROUP BY c
    ),
    s1 AS (
      SELECT e.vec_id, e.v, cent1.c,
             list_dot_product(e.v, cent1.cv)
               - 0.5 * list_dot_product(cent1.cv, cent1.cv) AS score
      FROM e CROSS JOIN cent1
    ),
    a AS (
      SELECT vec_id, v, CAST(c AS INT) AS c
      FROM (SELECT vec_id, v, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY score DESC, c) AS rn
            FROM s1)
      WHERE rn = 1
    )""").replace("{scores}", _scores0_sql('v')),
)
def dedup_semantic_semdedup_trained(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """SemDeDup over TRAINED centroids (round 8, VERDICT r7 #5): the
    plain variant assigns against the fixed ``_KM_INIT`` literals
    (k-means iteration 0); this one runs a full Lloyd step first — the
    ``embedding_kmeans`` scheme: iteration-0 argmax (zero-shuffle
    codegen), per-(cluster, dim) mean bounded by k×{DIM} partial sums,
    centroids back through the driver as plan literals — so clusters
    reflect the data before the cap/sub-split/cosine prune runs. Same
    linear comparison bound (≤ N·{_SEM_CAP}); recall vs brute force is
    pinned ≥ the untrained variant in ``tests/test_clustering.py``.
    The oracle re-derives the Lloyd step (ROUND(AVG,6) — the
    ``embedding_centroids`` cross-engine determinism pattern), the
    tie-break (score DESC, c), and the prune, all in SQL."""
    emb = fan_out_for_compute(load_table(spark, sf_dir, "embeddings"))
    # ONE materialization serves BOTH Lloyd passes (r15, VERDICT r14
    # #5): the update aggregation and the reassignment each need the
    # full (vec_id, embedding) corpus — previously two independent
    # parquet scans (the second re-paying the scan after the driver
    # round-trip). The update aggregation and the reassignment below
    # both read the checkpointed blocks instead of re-scanning.
    a0, _ = materialize(emb.select(
        "vec_id", "embedding",
        memo_col(("ivf_cell", "embedding", _mat_key(_KM_INIT)),
                 lambda: ivf_cell(F.col("embedding"), _KM_INIT))
        .alias("c")))
    upd = (a0.select("c", F.posexplode("embedding").alias("pos", "val"))
             .groupBy("c", "pos")
             .agg(F.round(F.avg(F.col("val").cast("double")), 6)
                  .alias("m")))
    cents: dict[int, dict[int, float]] = {}
    for r in upd.collect():  # bounded: at most k*dim rows
        cents.setdefault(int(r["c"]), {})[int(r["pos"])] = float(r["m"])
    cells = sorted(cents)
    if not cells:
        return emb.select(
            "vec_id", F.lit(None).cast("int").alias("cluster"),
            F.lit(True).alias("kept")).limit(0)
    cent_list = [[cents[c][j] for j in range(DIM)] for c in cells]
    scores = memo_col(("ivf_scores", "embedding", _mat_key(cent_list)),
                      lambda: _ivf_scores(F.col("embedding"), cent_list))
    pos = F.array_position(scores, F.array_max(scores))
    cell_ids = F.array(*[F.lit(c) for c in cells])
    # reassign from the checkpointed iteration-0 frame, not a re-scan
    a = a0.select(
        "vec_id", "embedding",
        F.element_at(cell_ids, pos.cast("int")).cast("int")
        .alias("cluster"))
    return _semdedup_prune(a)
