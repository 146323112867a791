"""Corpus-shaping queries over documents/embeddings — the second layer
of training-data curation (SURVEY.md §2.3 extension): language
rebalancing, n-gram statistics, fixed-window chunking, and embedding
centroids.

100 TB posture notes:

- ``corpus_rebalance_sample`` decides keep/drop from a portable hash
  and a per-language count joined back as a broadcast — the 100 TB
  document side is scanned once; no ``rand()``, so the sample is
  reproducible on any cluster and stable under re-ingestion.
- ``text_bigram_topk`` is explode → partial-count → TakeOrdered: the
  shuffle carries (bigram, partial_count) pairs, never document text,
  and the final top-k never materializes a global sort.
- ``chunk_fixed_windows`` is a pure per-row explode (no shuffle at
  all): chunking parallelism is scan parallelism, which is exactly how
  a 100 TB tokenize-and-pack pre-pass wants to run.
- ``embedding_centroids`` reduces vectors dimension-wise via
  posexplode + partial avg, so the shuffle carries (label, pos,
  partial sums) — bounded by |labels|·dim, independent of row count.

The reference consumer has no corpus layer (it forwards documents
1-by-1, ``firebase/app/artifacts.py:302-327``); these are the
scale-path additions a training pipeline needs on top of it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from aether_firebase_consumer_spark.materialize import materialize
from aether_firebase_consumer_spark.plans import register
from aether_firebase_consumer_spark.tables import fan_out_for_compute, load_table

#: DuckDB twin of ``operators.dedup.portable_hash60`` (one md5 →
#: 60-bit int → mod 2^31-1), parameterized over the hashed expression.
_H60 = "(('0x' || substr(md5({e}), 1, 15))::BIGINT % 2147483647)"

#: Per-language document cap for the rebalanced corpus. Integer
#: arithmetic end to end: keep iff hash(doc_id) % n_lang < cap, which
#: keeps ~cap docs per language deterministically.
_LANG_CAP = 120


@register(
    "corpus_rebalance_sample",
    oracle=f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang,
           CAST(c.n_lang AS BIGINT) AS n_lang,
           CAST({_H60.format(e="CAST(d.doc_id AS VARCHAR)")} % c.n_lang
                AS BIGINT) AS slot
    FROM documents d JOIN counts c USING (lang)
    WHERE {_H60.format(e="CAST(d.doc_id AS VARCHAR)")} % c.n_lang
          < LEAST(c.n_lang, {_LANG_CAP})
    """,
)
def corpus_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language rebalancing: cap every language at ~``_LANG_CAP`` docs
    by keeping rows whose ``hash(doc_id) mod n_lang`` falls under the
    cap. All-integer and content-independent, so the subsample is
    reproducible across engines and cluster sizes (``rand()`` samples
    are not). The per-language counts are a tiny aggregate broadcast
    back onto the scan — the document side shuffles nothing."""
    from aether_firebase_consumer_spark.operators.dedup import portable_hash60
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    h = portable_hash60(F.col("doc_id").cast("string"))
    return (docs.join(F.broadcast(counts), "lang")
            .withColumn("slot", (h % F.col("n_lang")).cast("bigint"))
            .where(F.col("slot") < F.least(F.col("n_lang"),
                                           F.lit(_LANG_CAP)))
            .select("doc_id", "lang", F.col("n_lang").cast("bigint")
                    .alias("n_lang"), "slot"))


@register(
    "text_bigram_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT unnest(list_transform(
               generate_series(2, len(t)),
               i -> t[i-1] || ' ' || t[i])) AS bigram
      FROM toks
      WHERE len(t) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 100
    """,
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics, top 100 by frequency (deterministic
    (count desc, bigram asc) tie-break). The explode feeds a hash
    aggregate with map-side partials, so the shuffle moves (bigram,
    partial_count) — not text — and the top-100 runs as TakeOrdered,
    never a global sort. This is the n-gram LM / contamination-audit
    primitive at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = docs.select(toks.alias("t")).where(F.size("t") >= 2).select(
        F.explode(F.expr(
            "transform(sequence(2, size(t)), i -> concat(t[i-2], ' ', t[i-1]))"
        )).alias("bigram"))
    return (grams.groupBy("bigram").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("bigram")).limit(100))


#: Tokens per training window for ``chunk_fixed_windows``.
_CHUNK = 128


@register(
    "chunk_fixed_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
           CAST(c AS BIGINT) AS chunk_idx,
           CAST(len(t[c*{_CHUNK}+1 : (c+1)*{_CHUNK}]) AS INT)
             AS n_chunk_tokens,
           array_to_string(t[c*{_CHUNK}+1 : (c+1)*{_CHUNK}], ' ')
             AS chunk_text
    FROM toks,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(CEIL(len(t) / {_CHUNK}.0) AS BIGINT) - 1)) AS c)
    """,
)
def chunk_fixed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token windows (the tokenize-and-chunk pre-pass of
    sequence packing): each document explodes into ceil(n/128) chunks
    of ≤128 whitespace tokens, tagged with chunk index and length.
    Pure per-row explode — no shuffle, no state; chunking throughput
    equals scan parallelism, the right shape for a 100 TB corpus."""
    docs = load_table(spark, sf_dir, "documents")
    chunked = docs.select(
        "doc_id", F.split("text", " ").alias("t")).select(
        "doc_id", "t",
        F.explode(F.sequence(
            F.lit(0).cast("bigint"),
            F.ceil(F.size("t") / F.lit(float(_CHUNK))).cast("bigint") - 1,
        )).alias("chunk_idx"))
    piece = F.slice("t", F.col("chunk_idx").cast("int") * _CHUNK + 1,
                    F.lit(_CHUNK))
    return chunked.select(
        "doc_id", "chunk_idx",
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"))


@register(
    "embedding_centroids",
    oracle="""
    WITH dims AS (
      SELECT label, i AS pos, embedding[i] AS v
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
    ),
    agg AS (
      SELECT label, pos,
             ROUND(AVG(CAST(v AS DOUBLE)), 6) AS c
      FROM dims GROUP BY label, pos
    )
    SELECT CAST(label AS INT) AS label,
           list(c ORDER BY pos) AS centroid,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings e
             WHERE e.label = agg.label) AS n_vecs
    FROM agg GROUP BY label
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the k-means update step / class
    prototype builder): posexplode to (label, pos, value), partial-avg
    per dimension, reassemble position-ordered. The shuffle carries
    (label, pos) partial sums — bounded by |labels| x dim regardless of
    row count — so the reduction scales to any corpus size. Rounded to
    6 decimals on both engines to pin float summation order."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v"))
    per_dim = dims.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("c"),
        F.count("*").alias("n"))
    return (per_dim.groupBy("label")
            .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "c"))),
                     lambda s: s["c"]).alias("centroid"),
                 F.max("n").cast("bigint").alias("n_vecs"))
            .select(F.col("label").cast("int").alias("label"),
                    "centroid", "n_vecs"))


@register(
    "corpus_token_quantiles",
    oracle="""
    WITH t AS (
      SELECT lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT lang, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_tokens, lang) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM t
    )
    SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MAX(CASE WHEN rn = GREATEST(1, CEIL(0.5 * n))
                         THEN n_tokens END) AS BIGINT) AS p50,
           CAST(MAX(CASE WHEN rn = GREATEST(1, CEIL(0.9 * n))
                         THEN n_tokens END) AS BIGINT) AS p90,
           CAST(MAX(CASE WHEN rn = GREATEST(1, CEIL(0.99 * n))
                         THEN n_tokens END) AS BIGINT) AS p99
    FROM ranked GROUP BY lang
    """,
)
def corpus_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-count distribution (exact discrete p50/p90/
    p99): the length profile that drives chunk-size and packing-window
    decisions. The percentile is hand-rolled IDENTICALLY on both
    engines — rank = ceil(p*n) over a per-language sort — so the gate
    is bit-exact (built-in percentile fns interpolate differently
    across engines). One shuffle on lang; the rank selection is a
    conditional aggregate, not a second pass."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("lang", F.size(F.split("text", " ")).alias("n_tokens"))
    w = W.partitionBy("lang").orderBy("n_tokens", "lang")
    ranked = t.select(
        "lang", "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("lang")).alias("n"))

    def pick(p: float, name: str):
        target = F.greatest(F.lit(1), F.ceil(F.lit(p) * F.col("n")))
        return F.max(F.when(F.col("rn") == target,
                            F.col("n_tokens"))).cast("bigint").alias(name)

    return ranked.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"))


@register(
    "doc_semantic_neighbors",
    oracle="""
    WITH q AS (
      SELECT d.doc_id AS query_id, e.embedding AS q_emb
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      WHERE d.doc_id < 3
    ),
    ranked AS (
      SELECT q.query_id, d.doc_id AS neighbor_id, d.lang, d.source,
             list_dot_product(q.q_emb::DOUBLE[], e.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.q_emb::DOUBLE[],
                                        q.q_emb::DOUBLE[]))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[])))
               AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY list_dot_product(q.q_emb::DOUBLE[],
                                         e.embedding::DOUBLE[])
                        / (sqrt(list_dot_product(q.q_emb::DOUBLE[],
                                                 q.q_emb::DOUBLE[]))
                           * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                   e.embedding::DOUBLE[])))
                        DESC, d.doc_id) AS rn
      FROM q
      JOIN embeddings e ON e.vec_id <> q.query_id
      JOIN documents d ON d.doc_id = e.vec_id
    )
    SELECT query_id, neighbor_id, lang, source, cos_sim
    FROM ranked WHERE rn <= 3
    """,
)
def doc_semantic_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table semantic retrieval: for each query document, the
    top-3 most-similar documents WITH their metadata — the
    documents ⋈ embeddings composition a retrieval/curation pipeline
    runs (dedup review, nearest-example lookup). The tiny query side
    broadcasts; the neighbor side joins documents to embeddings on the
    shared id (co-partitionable at scale: both tables bucketed by id
    make this join shuffle-free) before the cosine verify and
    per-query top-3."""
    from aether_firebase_consumer_spark.functions.vectors import cosine
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    q = (docs.where(F.col("doc_id") < 3)
         .join(emb, docs.doc_id == emb.vec_id)
         .select(F.col("doc_id").alias("query_id"),
                 F.col("embedding").alias("q_emb")))
    neigh = (emb.join(docs, emb.vec_id == docs.doc_id)
             .select(F.col("vec_id").alias("neighbor_id"),
                     "embedding", "lang", "source"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (neigh.join(F.broadcast(q),
                       F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", "lang", "source",
                    cosine(F.col("embedding"), F.col("q_emb"))
                    .alias("cos_sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .drop("rn"))


@register(
    "corpus_token_mixture",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    per_lang AS (
      SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS tok_lang
      FROM t GROUP BY lang
    ),
    budget AS (SELECT MIN(tok_lang) AS target FROM per_lang),
    kept AS (
      SELECT t.doc_id, t.lang, t.n_tok, p.tok_lang, b.target
      FROM t JOIN per_lang p USING (lang), budget b
      WHERE {_H60.format(e="CAST(t.doc_id AS VARCHAR)")} % p.tok_lang
            < b.target
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_kept,
           CAST(MAX(tok_lang) AS BIGINT) AS tokens_before,
           CAST(MAX(target) AS BIGINT) AS token_budget
    FROM kept GROUP BY lang
    """,
)
def corpus_token_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture resampling — how pretraining mixtures are
    actually specified (token shares, not doc counts): every language
    downsamples toward the smallest language's token mass. A doc
    survives iff ``hash(doc_id) mod tok_lang < target`` — an integer
    Bernoulli with rate target/tok_lang, deterministic and
    content-independent, so the mixture reproduces across engines,
    cluster sizes, and reruns (``sample()`` does not). Expected kept
    tokens per language ≈ the budget; the report shows achieved vs
    target. Shuffles: one tiny per-language aggregate (broadcast back)
    + the final report aggregation; the corpus itself never shuffles."""
    from aether_firebase_consumer_spark.operators.dedup import portable_hash60
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang",
                    F.size(F.split("text", " ")).cast("bigint")
                    .alias("n_tok"))
    per_lang = t.groupBy("lang").agg(F.sum("n_tok").cast("bigint")
                                     .alias("tok_lang"))
    budget = per_lang.agg(F.min("tok_lang").alias("target"))
    h = portable_hash60(F.col("doc_id").cast("string"))
    kept = (t.join(F.broadcast(per_lang), "lang")
            .crossJoin(F.broadcast(budget))
            .where((h % F.col("tok_lang")) < F.col("target")))
    return (kept.groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("n_docs_kept"),
                 F.sum("n_tok").cast("bigint").alias("tokens_kept"),
                 F.max("tok_lang").cast("bigint").alias("tokens_before"),
                 F.max("target").cast("bigint").alias("token_budget")))


_BPE_N = 10
_SEP = "\x1f"


def _bpe_chain(n: int = _BPE_N) -> list[str]:
    """The n-iteration BPE training CTE chain (the trained-PQ scheme:
    data-dependent model state re-derived INSIDE SQL, one layer per
    merge; MATERIALIZED keeps the scalar-subquery references from
    inlining the chain exponentially)."""
    # ONE CTE per merge, not three: DuckDB's logical planner rejects
    # trees deeper than 1000, and the w/p/b shape costs ~5 depth units
    # per merge (caps out near 192 merges). State rows carry the
    # post-merge vocab (sym, wc) PLUS the (pair, c) decision that
    # produced it — the 1-row argmax rides along as a cross join, so
    # the chain's critical path is one CTE per merge and 256+ merges
    # plan comfortably. ``pair``/``c`` are constant within a state
    # (any_value reads them back deterministically).
    parts = ["""s0 AS MATERIALIZED (
      SELECT regexp_replace(w, '(.)', '\\1' || chr(31), 'g') || '</w>'
               AS sym,
             COUNT(*) AS wc, NULL::VARCHAR AS pair, NULL::BIGINT AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY 1
    )"""]
    for r in range(n):
        parts.append(f"""s{r + 1} AS MATERIALIZED (
      SELECT replace(sym, bp.pair, replace(bp.pair, chr(31), ''))
               AS sym,
             wc, bp.pair, bp.c
      FROM s{r},
           (SELECT s[i] || chr(31) || s[i+1] AS pair, SUM(wc) AS c
            FROM (SELECT string_split(sym, chr(31)) AS s, wc
                  FROM s{r}),
                 LATERAL (SELECT unnest(generate_series(1, len(s) - 1))
                            AS i)
            GROUP BY 1 ORDER BY c DESC, pair LIMIT 1) bp
    )""")
    return parts


def _bpe_oracle(n: int = _BPE_N) -> str:
    # the merge table assembles through one flat VALUES list (parse
    # depth is constant in n) — a UNION ALL chain is a left-deep parse
    # tree that blows DuckDB's 1000-expression-depth limit at the
    # 256-merge production variant
    rows = ",\n      ".join(
        f"({r + 1}, (SELECT any_value(pair) FROM s{r + 1}),"
        f" (SELECT any_value(c) FROM s{r + 1}))"
        for r in range(n))
    # pair IS NULL marks merges past PAIR EXHAUSTION (the whole vocab
    # reduced to single symbols — the argmax subquery goes empty and
    # every later state is empty): drop them, exactly where the Spark
    # loop's `if not best: break` stops
    finals = f"""SELECT rank,
           split_part(pair, chr(31), 1) AS left_sym,
           split_part(pair, chr(31), 2) AS right_sym,
           replace(pair, chr(31), '') AS merged,
           cnt
    FROM (VALUES {rows}) AS t(rank, pair, cnt)
    WHERE pair IS NOT NULL"""
    return ",\n    ".join(_bpe_chain(n)) + "\n    " + finals


@register("corpus_bpe_train", oracle="WITH " + _bpe_oracle())
def corpus_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER TRAINING as a relational pipeline (round 7): learn
    the first 10 BPE merges over the corpus's word-frequency table —
    the Sennrich et al. algorithm, Spark-first. Words reduce to a
    vocab-bounded (symbols, count) frame (the classic BPE trick:
    train on the word DICTIONARY, weighted by frequency, never on raw
    running text); each iteration counts adjacent symbol pairs with a
    map-side partial SUM, takes the (count DESC, pair ASC) argmax —
    a bounded 1-row driver action, like the k-means centroid pulls —
    and applies the merge as a literal string replace on the
    separator-joined symbol form (left-to-right non-overlapping
    replace = greedy leftmost BPE application, identical semantics in
    both engines). All counts are integers and the tiebreak is
    lexicographic, so the DuckDB oracle — which re-derives every
    data-dependent merge decision inside one 10-layer CTE chain —
    matches bit-for-bit.

    Scale: the only corpus-sized pass is the word count; every
    iteration after that touches the vocabulary (≪ corpus, Heaps'
    law), checkpointed once so the 10 argmax actions don't re-scan
    the corpus. Returns the merge table (rank, left_sym, right_sym,
    merged, cnt) — the artifact a tokenizer ships."""
    merges = _train_bpe(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, "
                "merged string, cnt bigint")


_BPE_CACHE: dict[tuple[str, int], list] = {}

#: how many stacked literal-replace expressions accumulate on the
#: vocab frame before the lineage is collapsed with a localCheckpoint
#: — at production merge counts an unbounded stack makes plan analysis
#: cost quadratic in merges (and eventually overflows codegen); the
#: frame itself is vocab-bounded, so each checkpoint is cheap
_BPE_CKPT_EVERY = 32


def _train_bpe(spark: SparkSession, sf_dir: str,
               n: int = _BPE_N) -> list[tuple]:
    """The training loop behind ``corpus_bpe_train``, cached per
    (process, sf_dir, merges): the merge table is the persisted model
    artifact ``corpus_bpe_tokenize`` applies."""
    cached = _BPE_CACHE.get((sf_dir, n))
    if cached is not None:
        return cached
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    words, _ = materialize(
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("wc"))
        .select(F.concat(
            F.regexp_replace(F.col("w"), "(.)", "$1" + _SEP),
            F.lit("</w>")).alias("sym"), "wc"))
    cur = words
    merges = []
    for r in range(n):
        s = F.split("sym", _SEP)
        # guard: F.sequence(1, 0) DESCENDS ([1, 0]) — a word fully
        # merged into ONE symbol (common past ~100 merges) would
        # element_at(s, 0) and crash; DuckDB's generate_series(1, 0)
        # is empty, so the empty-array branch matches the oracle
        pair_i = F.when(
            F.size(s) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(s) - 1),
                lambda i: F.concat(F.element_at(s, i), F.lit(_SEP),
                                   F.element_at(s, i + 1)))
        ).otherwise(F.array().cast("array<string>"))
        best = (cur.select("wc", F.explode(pair_i).alias("pair"))
                .groupBy("pair").agg(F.sum("wc").alias("c"))
                .orderBy(F.desc("c"), F.asc("pair"))
                .limit(1).collect())
        if not best:
            break
        pair, cnt = best[0].pair, best[0].c
        left, right = pair.split(_SEP)
        merges.append((r + 1, left, right, left + right, int(cnt)))
        cur = cur.select(
            F.replace(F.col("sym"), F.lit(pair),
                      F.lit(left + right)).alias("sym"), "wc")
        if (r + 1) % _BPE_CKPT_EVERY == 0:
            cur, _ = materialize(cur)
    _BPE_CACHE[(sf_dir, n)] = merges
    return merges


_BPE_PROD_N = 256


@register("corpus_bpe_train_256",
          oracle="WITH " + _bpe_oracle(_BPE_PROD_N))
def corpus_bpe_train_256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training at a PRODUCTION-SHAPED merge count (round 8,
    VERDICT r7 #8): the same loop as ``corpus_bpe_train`` with merges
    as a parameter, run to 256 — enough that the argmax-loop cost
    model is measured, not assumed. Two things change at this depth
    and both are handled structurally: (1) the stacked literal-replace
    lineage is collapsed every 32 merges (an unbounded expression
    stack makes plan analysis quadratic in merges); (2) the oracle's
    generated CTE chain (256×3 layers) is ``AS MATERIALIZED``
    throughout — DuckDB re-expands non-materialized scalar-subquery
    chains exponentially (the round-7 gotcha). Cost shape: ONE
    corpus-sized pass (the word count), then 256 bounded argmax
    actions over the vocab frame — per-merge cost tracks VOCABULARY,
    not corpus, so the sf decade probe (SCALE.md) stays ~flat in
    corpus size. Deliberately NOT in bench.py's extras: 256 sequential
    1-row Spark actions are a training job, not a per-round latency
    probe; the scale posture is pinned by SCALE.md instead."""
    merges = _train_bpe(spark, sf_dir, _BPE_PROD_N)
    return spark.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, "
                "merged string, cnt bigint")


def _bpe_apply_oracle(n: int = _BPE_N) -> str:
    """CTE chain: re-train the merges in SQL, then APPLY them to every
    document's words and aggregate per-doc token statistics."""
    parts = _bpe_chain(n)
    parts.append("""dw AS MATERIALIZED (
      SELECT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
    )""")
    parts.append("""t0 AS MATERIALIZED (
      SELECT doc_id,
             regexp_replace(w, '(.)', '\\1' || chr(31), 'g') || '</w>'
               AS sym,
             length(w) AS nc
      FROM dw
    )""")
    for r in range(n):
        parts.append(f"""t{r + 1} AS MATERIALIZED (
      SELECT doc_id,
             replace(sym, (SELECT any_value(pair) FROM s{r + 1}),
                     replace((SELECT any_value(pair) FROM s{r + 1}),
                             chr(31), ''))
               AS sym, nc
      FROM t{r}
    )""")
    return ",\n    ".join(parts) + f"""
    SELECT doc_id,
           CAST(SUM(len(string_split(sym, chr(31)))) AS BIGINT)
             AS n_bpe_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(nc) AS BIGINT) AS n_chars,
           CAST(SUM(nc) AS DOUBLE)
             / SUM(len(string_split(sym, chr(31)))) AS chars_per_token
    FROM t{n} GROUP BY doc_id"""


@register("corpus_bpe_tokenize", oracle="WITH " + _bpe_apply_oracle())
def corpus_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER APPLICATION (the other half of ``corpus_bpe_train``):
    apply the learned merge table to every document and report per-doc
    subword statistics — the fertility/compression numbers a pipeline
    watches when it retrains a tokenizer. The merges come from the
    cached trainer (the model artifact); application is the same
    left-to-right literal replace chain as training, executed as 10
    stacked codegen'd string ops over the exploded word frame, then
    one per-doc aggregate. chars_per_token is the only double — a
    single division of exact BIGINTs, per the repo's oracle-exactness
    convention. The oracle re-trains AND re-applies everything inside
    SQL, so a drift anywhere in train or apply breaks the hash."""
    merges = _train_bpe(spark, sf_dir)
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    words = (docs.select("doc_id",
                         F.explode(F.split("text", " ")).alias("w"))
             .filter(F.col("w") != ""))
    sym = F.concat(F.regexp_replace(F.col("w"), "(.)", "$1" + _SEP),
                   F.lit("</w>"))
    for _rank, left, right, merged, _cnt in merges:
        sym = F.replace(sym, F.lit(left + _SEP + right), F.lit(merged))
    per_word = words.select(
        "doc_id",
        F.size(F.split(sym, _SEP)).alias("nt"),
        F.length("w").alias("nc"))
    return (per_word.groupBy("doc_id")
            .agg(F.sum("nt").cast("bigint").alias("n_bpe_tokens"),
                 F.count("*").cast("bigint").alias("n_words"),
                 F.sum("nc").cast("bigint").alias("n_chars"),
                 (F.sum("nc").cast("double") / F.sum("nt"))
                 .alias("chars_per_token")))


_STATS_TABLE: dict[str, object] = {}


def _stats_fixture(spark: SparkSession, sf_dir: str):
    """The shared stats-manifest fixture: raw documents in a
    lang-partitioned ``ParquetUpsertTable`` with an ``n_chars``
    interval manifest, zorder-optimized so per-file ranges are
    narrow; built once per (process, sf_dir)."""
    import tempfile

    from aether_firebase_consumer_spark.sinks.upsert import (
        ParquetUpsertTable,
    )

    table = _STATS_TABLE.get(sf_dir)
    if table is None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        root = tempfile.mkdtemp(prefix="docs_stats_idx_")
        table = ParquetUpsertTable(spark, root, ["doc_id"],
                                   partition_col="lang",
                                   stats_cols=["n_chars"])
        table.merge(docs)
        table.optimize(zorder_cols=["n_chars"])
        _STATS_TABLE[sf_dir] = table
    return table


@register(
    "docs_stats_skipped_scan",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           SUM(n_chars) AS sum_chars,
           MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id
    FROM documents
    WHERE n_chars >= 400 AND n_chars < 900
    GROUP BY lang
    """,
)
def docs_stats_skipped_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective scan through the FILE-SKIPPING read path (round 10):
    the documents corpus lives in a lang-partitioned
    ``ParquetUpsertTable`` with a per-version file-stats manifest on
    ``n_chars`` (``stats_cols`` — see ``sinks/stats.py``), laid out by
    ``optimize(zorder_cols=["n_chars"])`` so per-file ranges are
    narrow; ``read_where`` then hands the scan only the files whose
    [min, max] admit the range predicate, re-applies it as a real
    filter, and aggregates. Results are bit-equal to the plain
    filtered scan the oracle runs — skipping is purely the I/O layer
    a 100 TB selective read needs on top of partition + row-group
    pruning (tests pin the file-subset and carry-forward claims). The
    table builds once per (process, sf_dir), the convention of the
    other persisted-index queries: in production it persists, so
    repeated runs measure the skipped scan."""
    pruned = _stats_fixture(spark, sf_dir).read_where(
        ("n_chars", ">=", 400), ("n_chars", "<", 900))
    return (pruned.groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


_BLOOM_TABLE: dict[str, object] = {}

#: fixed probe ids for the point-lookup query: spread across the id
#: domain at every sf (documents doc_ids are dense from 0)
_PROBE_IDS = (7, 123, 456)


@register(
    "docs_point_lookup_bloom",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE doc_id IN (7, 123, 456)
    """,
)
def docs_point_lookup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups through the BLOOM-SKIPPING read path (round 10):
    the documents corpus lives in a ParquetUpsertTable whose manifest
    carries per-file bloom filters on ``doc_id`` (``bloom_cols`` —
    see ``sinks/stats.py``); each probe id is answered by
    ``read_where(("doc_id", "=", id))``, which skips every file whose
    bloom proves the id absent — the takedown-by-id I/O shape, where
    interval stats can't prune an unsorted id column. The per-id
    results union to match the oracle's IN-list scan bit-exactly
    (absent ids contribute zero rows, never a false negative). Table
    builds once per (process, sf_dir), the persisted-index-query
    convention."""
    import tempfile

    from aether_firebase_consumer_spark.sinks.upsert import (
        ParquetUpsertTable,
    )

    table = _BLOOM_TABLE.get(sf_dir)
    if table is None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        root = tempfile.mkdtemp(prefix="docs_bloom_idx_")
        table = ParquetUpsertTable(spark, root, ["doc_id"],
                                   partition_col="lang",
                                   stats_cols=["n_chars"],
                                   bloom_cols=["doc_id"])
        table.merge(docs)
        _BLOOM_TABLE[sf_dir] = table
    out = None
    for pid in _PROBE_IDS:
        part = table.read_where(("doc_id", "=", pid))
        out = part if out is None else out.unionByName(part)
    return out.select("doc_id", "lang", "n_chars")


_CDF_TABLE: dict[str, object] = {}

#: shared by ``docs_change_feed_recorded`` (table-API read) and
#: ``docs_table_changes_source`` (DataSource read): both read paths
#: must agree with the same SQL re-derivation of the op script.
_CDF_FEED_ORACLE = """
    WITH base AS (
      SELECT doc_id, lang, n_chars FROM documents
    ),
    ins AS (   -- v1 also inserts shadow docs for doc_id % 997 = 0
      SELECT doc_id + 10000000 AS doc_id, lang, n_chars
      FROM base WHERE doc_id % 997 = 0
    ),
    s1 AS (    -- state after the v1 merge
      SELECT doc_id, lang,
             CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM base
      UNION ALL SELECT doc_id, lang, n_chars FROM ins
    ),
    del2 AS (SELECT doc_id FROM s1 WHERE n_chars >= 1000),
    s2 AS (SELECT * FROM s1 WHERE n_chars < 1000),
    del3 AS (SELECT doc_id FROM s2 WHERE doc_id % 101 = 0),
    feed AS (
      SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type,
             doc_id
      FROM base
      UNION ALL
      SELECT 1, 'update', doc_id FROM base WHERE doc_id % 10 = 3
      UNION ALL SELECT 1, 'insert', doc_id FROM ins
      UNION ALL SELECT 2, 'delete', doc_id FROM del2
      UNION ALL SELECT 3, 'delete', doc_id FROM del3
    )
    SELECT version, change_type,
           COUNT(*) AS n_changes,
           CAST(SUM(doc_id) AS BIGINT) AS sum_id,
           MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id
    FROM feed
    GROUP BY version, change_type
    """


@register("docs_change_feed_recorded", oracle=_CDF_FEED_ORACLE)
def docs_change_feed_recorded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-time change-data-feed (round 11): a lang-partitioned
    ``ParquetUpsertTable`` of the documents corpus runs a fixed op
    script — v0 full merge, v1 merge of (updates: n_chars+1000 for
    doc_id%10==3; byte-identical re-merges for doc_id%10==6, which
    must NOT appear in the feed; inserts: shadow ids +10M for
    doc_id%997==0), v2 ``delete_where(n_chars >= 1000)``, v3
    partition-pruned ``delete_keys`` of surviving doc_id%101==0 —
    and the query aggregates ``change_feed(0)`` per (version,
    change_type). Every version's rows come from the `_changes/`
    recording each op committed atomically with its data (O(changed
    rows); no version diff is ever computed), so the oracle — which
    re-derives the expected delta set in pure SQL — checks both the
    recorder's semantics (updates exclude no-op rewrites; deletes
    reflect prior state) and the read path. The reference has no
    change history at all (1-by-1 Firestore pushes,
    /root/reference/firebase/app/artifacts.py:302-327). Table builds
    once per (process, sf_dir) — the persisted-index-query
    convention; repeated runs measure the recorded-feed read."""
    feed = _cdf_fixture(spark, sf_dir).change_feed(0)
    return _cdf_agg(feed)


def _cdf_fixture(spark: SparkSession, sf_dir: str):
    """The shared CDF fixture table (op script in
    :func:`docs_change_feed_recorded`'s docstring), built once per
    (process, sf_dir)."""
    import tempfile

    from aether_firebase_consumer_spark.sinks.upsert import (
        ParquetUpsertTable,
    )

    table = _CDF_TABLE.get(sf_dir)
    if table is None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        root = tempfile.mkdtemp(prefix="docs_cdf_")
        table = ParquetUpsertTable(spark, root, ["doc_id"],
                                   partition_col="lang",
                                   stats_cols=["n_chars"],
                                   retain_versions=8)
        table.merge(docs)                                      # v0
        updates = (docs.filter(F.col("doc_id") % 10 == 3)
                   .withColumn("n_chars", F.col("n_chars") + 1000))
        noops = docs.filter(F.col("doc_id") % 10 == 6)
        inserts = (docs.filter(F.col("doc_id") % 997 == 0)
                   .withColumn("doc_id",
                               F.col("doc_id") + 10_000_000))
        table.merge(updates.unionByName(noops)
                    .unionByName(inserts))                     # v1
        table.delete_where(("n_chars", ">=", 1000))            # v2
        survivors = table.read().filter(F.col("doc_id") % 101 == 0)
        table.delete_keys(survivors.select("doc_id", "lang"))  # v3
        _CDF_TABLE[sf_dir] = table
    return table


def _cdf_agg(feed: DataFrame) -> DataFrame:
    return (feed.groupBy(F.col("version").cast("bigint").alias("version"),
                         "change_type")
            .agg(F.count("*").cast("bigint").alias("n_changes"),
                 F.sum("doc_id").cast("bigint").alias("sum_id"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


@register(
    "docs_metadata_rowcounts",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang
    """,
)
def docs_metadata_rowcounts(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """``SELECT lang, COUNT(*) GROUP BY lang`` answered from the
    sharded stats manifest's ROOT DOCUMENT alone (round 11 —
    ``ParquetUpsertTable.partition_row_counts``): per-shard exact row
    sums recorded from parquet footers at commit time, so the count
    opens ZERO data files and parses ZERO shards — the Delta-style
    metadata answer a 100 TB ``COUNT(*)`` wants (Spark's own
    count-star still scans footers file by file; this is one driver
    JSON read regardless of table size). Exactness: the manifest file
    list is authoritative, footer counts are exact, hardlink carry
    preserves content, and every row under ``lang=v`` has lang = v by
    layout — pinned here against DuckDB's real scan. Reuses the
    ``docs_stats_skipped_scan`` fixture table (raw documents merged +
    zorder-optimized; builds once per process)."""
    table = _stats_fixture(spark, sf_dir)
    counts = table.partition_row_counts()
    return spark.createDataFrame(
        [(lang, int(n)) for lang, n in counts],
        "lang string, n_docs bigint")


@register("docs_table_changes_source", oracle=_CDF_FEED_ORACLE)
def docs_table_changes_source(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The same recorded change feed read through the
    ``table_changes`` Python DataSource (round 11 —
    ``streaming/table_changes_source.py``): ``spark.read.format(
    "table_changes")`` plans one InputPartition per version holding
    that version's ``_changes/`` recording and reads them via pyarrow
    on the executors — the batch twin of the streaming source whose
    checkpointed cursor drives downstream index maintenance. Sharing
    :data:`_CDF_FEED_ORACLE` with ``docs_change_feed_recorded`` pins
    BOTH read paths (table API and DataSource) to the same SQL
    re-derivation of the op script, so a drift in either one fails
    its gate. The aggregation is identical; only the scan differs."""
    from aether_firebase_consumer_spark.streaming.table_changes_source import (  # noqa: E501
        register_table_changes,
    )

    table = _cdf_fixture(spark, sf_dir)
    register_table_changes(spark)
    feed = (spark.read.format("table_changes")
            .option("path", table.path)
            .option("keyCols", "doc_id")
            .option("startingVersion", 0).load())
    return _cdf_agg(feed)


_IAGG_VIEW: dict[str, object] = {}


def _iagg_fixture(spark: SparkSession, sf_dir: str):
    """The incremental-aggregate fixture: a documents corpus table
    recording pre+post images, run through an op script (v0 full
    merge; v1 value updates doc_id%10==3 → n_chars+1000 composed with
    GROUP MOVES doc_id%7==2 → lang='xx', plus shadow inserts
    doc_id%997==0 at +10M; v2 delete_where(n_chars >= 1000); v3
    delete_keys of surviving doc_id%101==0; v4 value updates
    doc_id%13==5 → n_chars+7), with a ``CdfAggregateView`` on
    (lang -> count, sum(n_chars)) refreshed MID-SCRIPT (after v2) and
    at the end — so the maintained state provably folds across
    multiple polls, not just one catch-up. Built once per (process,
    sf_dir)."""
    import tempfile

    from aether_firebase_consumer_spark.sinks.upsert import (
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.streaming.incremental_agg import (
        CdfAggregateView,
    )

    view = _IAGG_VIEW.get(sf_dir)
    if view is None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        root = tempfile.mkdtemp(prefix="docs_iagg_")
        table = ParquetUpsertTable(spark, os.path.join(root, "src"),
                                   ["doc_id"], partition_col="lang",
                                   retain_versions=10,
                                   record_change_values=True,
                                   record_change_preimages=True)
        view = CdfAggregateView(
            spark, os.path.join(root, "view"), table, ["lang"],
            {"n_docs": ("count", None),
             "sum_chars": ("sum", "n_chars")},
            os.path.join(root, "cursor"))
        table.merge(docs)                                      # v0
        upd = (docs.filter((F.col("doc_id") % 10 == 3)
                           | (F.col("doc_id") % 7 == 2))
               .withColumn("n_chars",
                           F.when(F.col("doc_id") % 10 == 3,
                                  F.col("n_chars") + 1000)
                           .otherwise(F.col("n_chars")))
               .withColumn("lang",
                           F.when(F.col("doc_id") % 7 == 2,
                                  F.lit("xx"))
                           .otherwise(F.col("lang"))))
        ins = (docs.filter(F.col("doc_id") % 997 == 0)
               .withColumn("doc_id", F.col("doc_id") + 10_000_000))
        table.merge(upd.unionByName(ins))                      # v1
        table.delete_where(("n_chars", ">=", 1000))            # v2
        view.refresh()                 # first fold: v0..v2
        survivors = table.read().filter(F.col("doc_id") % 101 == 0)
        table.delete_keys(survivors.select("doc_id", "lang"))  # v3
        bump = (table.read().filter(F.col("doc_id") % 13 == 5)
                .withColumn("n_chars", F.col("n_chars") + 7))
        table.merge(bump)                                      # v4
        view.refresh()                 # second fold: v3..v4
        view._iagg_root = root         # for sibling views (holistic)
        _IAGG_VIEW[sf_dir] = view
    return view


@register(
    "docs_incremental_agg",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, n_chars FROM documents
    ),
    ins AS (
      SELECT doc_id + 10000000 AS doc_id, lang, n_chars
      FROM base WHERE doc_id % 997 = 0
    ),
    s1 AS (   -- state after the v1 merge (updates compose)
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 2 THEN 'xx' ELSE lang END AS lang,
             CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM base
      UNION ALL SELECT doc_id, lang, n_chars FROM ins
    ),
    s2 AS (SELECT * FROM s1 WHERE n_chars < 1000),
    s3 AS (SELECT * FROM s2 WHERE doc_id % 101 <> 0),
    s4 AS (   -- state after the v4 merge
      SELECT doc_id, lang,
             CASE WHEN doc_id % 13 = 5 THEN n_chars + 7
                  ELSE n_chars END AS n_chars
      FROM s3
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM s4
    GROUP BY lang
    """,
)
def docs_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental GROUP BY view maintenance from the retraction feed
    (round 11 — ``streaming/incremental_agg.py``): a
    ``CdfAggregateView`` maintains (lang → COUNT(*), SUM(n_chars))
    over a documents corpus table purely from its pre+post image
    change recordings — every refresh reads O(changed rows), reduces
    to O(touched groups) signed deltas, and MERGEs; the corpus is
    never re-scanned. The op script (see :func:`_iagg_fixture`)
    exercises inserts, composed value updates, GROUP MOVES (lang
    changes, which must subtract from the old group and add to the
    new), predicate deletes, key deletes, and TWO separate refreshes —
    and the oracle recomputes the final state in pure SQL, so a drift
    anywhere in the retraction algebra (signs, null handling, fence,
    fold) fails the hash gate. ``IncrementalRollup`` (append-only)
    cannot express this; the reference recomputes nothing at all
    (1-by-1 forwards, /root/reference/firebase/app/artifacts.py:
    302-327). Fixture builds once per (process, sf_dir); repeated
    runs measure the view read."""
    view = _iagg_fixture(spark, sf_dir)
    return (view.read()
            .select("lang",
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.col("sum_chars").cast("bigint")
                    .alias("sum_chars")))


_IAGG_HOLISTIC: dict[str, object] = {}


@register(
    "docs_incremental_agg_holistic",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, n_chars FROM documents
    ),
    ins AS (
      SELECT doc_id + 10000000 AS doc_id, lang, n_chars
      FROM base WHERE doc_id % 997 = 0
    ),
    s1 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 2 THEN 'xx' ELSE lang END AS lang,
             CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM base
      UNION ALL SELECT doc_id, lang, n_chars FROM ins
    ),
    s2 AS (SELECT * FROM s1 WHERE n_chars < 1000),
    s3 AS (SELECT * FROM s2 WHERE doc_id % 101 <> 0),
    s4 AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 13 = 5 THEN n_chars + 7
                  ELSE n_chars END AS n_chars
      FROM s3
    )
    SELECT lang,
           MIN(n_chars) AS mn_chars,
           MAX(n_chars) AS mx_chars,
           CAST(COUNT(DISTINCT n_chars) AS BIGINT) AS nd_chars
    FROM s4
    GROUP BY lang
    """,
)
def docs_incremental_agg_holistic(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """HOLISTIC aggregates maintained incrementally (round 11):
    MIN/MAX via dirty-group recompute (clean refreshes fold
    least/greatest with zero source reads; refreshes that retract a
    non-null value recompute ONLY the dirty groups' extrema,
    partition-pruned on lang) and exact COUNT(DISTINCT n_chars) via
    the per-(group, value) helper multiset — over the SAME op script
    and source table as :func:`docs_incremental_agg` (composed
    updates, lang group-moves, predicate + key deletes). The oracle
    recomputes the final state's min/max/distinct in SQL, so a stale
    extremum after a retraction, a multiset miscount under duplicate
    values, or a missed group move fails the hash gate. This view
    attaches AFTER the ops ran — one catch-up refresh folds v0..v4 —
    complementing the sibling query's two-refresh schedule."""
    from aether_firebase_consumer_spark.streaming.incremental_agg import (
        CdfAggregateView,
    )

    view = _IAGG_HOLISTIC.get(sf_dir)
    if view is None:
        sibling = _iagg_fixture(spark, sf_dir)
        root = sibling._iagg_root
        view = CdfAggregateView(
            spark, os.path.join(root, "hview"), sibling.source,
            ["lang"],
            {"mn_chars": ("min", "n_chars"),
             "mx_chars": ("max", "n_chars"),
             "nd_chars": ("count_distinct", "n_chars")},
            os.path.join(root, "hcursor"))
        view.refresh()
        _IAGG_HOLISTIC[sf_dir] = view
    return (view.read()
            .select("lang", "mn_chars", "mx_chars",
                    F.col("nd_chars").cast("bigint").alias("nd_chars")))


_JOINVIEW: dict[str, object] = {}


@register(
    "docs_join_view",
    oracle="""
    WITH langs AS (SELECT DISTINCT lang FROM documents),
    dim0 AS (
      SELECT lang, ascii(lang) AS weight FROM langs WHERE lang <> 'zh'
    ),
    dim1 AS (   -- v1: weight bump for en + late insert of zh
      SELECT lang,
             CASE WHEN lang = 'en' THEN weight + 1000
                  ELSE weight END AS weight
      FROM dim0
      UNION ALL SELECT 'zh', ascii('zh')
    ),
    dim2 AS (SELECT * FROM dim1 WHERE lang <> 'fr'),  -- v2: delete fr
    f1 AS (     -- fact v1: composed update incl. JOIN-KEY MOVES
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 2 THEN 'xx' ELSE lang END AS lang,
             CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM documents
    ),
    f2 AS (SELECT * FROM f1 WHERE doc_id % 101 <> 0)  -- fact v2
    SELECT f2.doc_id, f2.lang, f2.n_chars,
           CAST(d.weight AS INT) AS dim_weight
    FROM f2 LEFT JOIN dim2 d USING (lang)
    """,
)
def docs_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental enrich-join view (round 11 —
    ``streaming/join_view.py``): a ``CdfJoinView`` maintains
    documents LEFT JOIN a per-lang dim table from BOTH change feeds.
    The op script exercises every maintenance regime: fact inserts,
    composed fact updates including JOIN-KEY MOVES (lang→'xx', which
    has no dim row → LEFT JOIN null), fact key deletes, dim value
    updates (en weight bump re-enriches only en docs through the
    IN-list data-skipping read), a LATE dim insert ('zh' arrives
    after the facts — its docs backfill from null), and a dim delete
    ('fr' → its docs re-enrich to null). Two refreshes split the
    script, and the oracle re-derives the final fact and dim states
    in SQL and re-joins — so a missed fan-in, a stale enrichment, or
    a fence regression fails the hash gate. The fact table is never
    re-joined in full: fact folds enrich O(changed rows), dim folds
    re-enrich O(affected fact rows). Fixture builds once per
    (process, sf_dir); repeated runs measure the view read."""
    import tempfile

    from aether_firebase_consumer_spark.sinks.upsert import (
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.streaming.join_view import (
        CdfJoinView,
    )

    view = _JOINVIEW.get(sf_dir)
    if view is None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        root = tempfile.mkdtemp(prefix="docs_joinview_")
        fact = ParquetUpsertTable(
            spark, os.path.join(root, "fact"), ["doc_id"],
            partition_col="lang", retain_versions=10,
            record_change_values=True)
        dim = ParquetUpsertTable(
            spark, os.path.join(root, "dim"), ["lang"],
            retain_versions=10)
        view = CdfJoinView(
            spark, os.path.join(root, "view"), fact, dim, "lang",
            os.path.join(root, "fck"), os.path.join(root, "dck"),
            dim_prefix="dim_")
        dim.merge(docs.select("lang").distinct()
                  .filter(F.col("lang") != "zh")
                  .withColumn("weight", F.ascii("lang")))   # dim v0
        fact.merge(docs)                                    # fact v0
        view.refresh()
        upd = (dim.read().filter(F.col("lang") == "en")
               .withColumn("weight", F.col("weight") + 1000))
        late = (docs.select("lang").distinct()
                .filter(F.col("lang") == "zh")
                .withColumn("weight", F.ascii("lang")))
        dim.merge(upd.unionByName(late))                    # dim v1
        dim.delete_keys(
            spark.createDataFrame([("fr",)], "lang string"))  # dim v2
        fupd = (docs.filter((F.col("doc_id") % 10 == 3)
                            | (F.col("doc_id") % 7 == 2))
                .withColumn("n_chars",
                            F.when(F.col("doc_id") % 10 == 3,
                                   F.col("n_chars") + 1000)
                            .otherwise(F.col("n_chars")))
                .withColumn("lang",
                            F.when(F.col("doc_id") % 7 == 2,
                                   F.lit("xx"))
                            .otherwise(F.col("lang"))))
        fact.merge(fupd)                                    # fact v1
        doomed = fact.read().filter(F.col("doc_id") % 101 == 0)
        fact.delete_keys(doomed.select("doc_id", "lang"))   # fact v2
        view.refresh()
        _JOINVIEW[sf_dir] = view
    return (view.read()
            .select("doc_id", "lang", "n_chars",
                    F.col("dim_weight").cast("int")
                    .alias("dim_weight")))


_CHAIN: dict[str, object] = {}


@register(
    "docs_view_chain",
    oracle="""
    WITH langs AS (SELECT DISTINCT lang FROM documents),
    dim0 AS (
      SELECT lang, ascii(lang) AS weight FROM langs WHERE lang <> 'zh'
    ),
    dim1 AS (
      SELECT lang,
             CASE WHEN lang = 'en' THEN weight + 1000
                  ELSE weight END AS weight
      FROM dim0
      UNION ALL SELECT 'zh', ascii('zh')
    ),
    dim2 AS (SELECT * FROM dim1 WHERE lang <> 'fr'),
    f1 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 2 THEN 'xx' ELSE lang END AS lang,
             CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM documents
    ),
    f2 AS (SELECT * FROM f1 WHERE doc_id % 101 <> 0)
    SELECT CAST(d.weight AS INT) AS dim_weight,
           COUNT(*) AS n_docs,
           CAST(SUM(f2.n_chars) AS BIGINT) AS sum_chars
    FROM f2 LEFT JOIN dim2 d USING (lang)
    GROUP BY 1
    """,
)
def docs_view_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED incremental views (round 11): source documents →
    ``CdfJoinView`` (enrich with the per-lang dim) → that view's own
    table records ITS retraction feed (``table_kwargs``) →
    ``CdfAggregateView`` grouping by the ENRICHED attribute
    (dim_weight). Every hop maintains O(its own changed rows): a dim
    weight update moves whole lang cohorts between downstream groups
    (pre-images carry the OLD dim_weight, so the aggregate retracts
    from the right group); dim deletes and never-enriched langs land
    in the NULL group (null-safe fold + null-safe table keys); fact
    deletes shrink their group. Same op script as
    :func:`docs_join_view`, aggregated — the oracle re-derives final
    fact and dim states in SQL, re-joins, and groups, so a phantom
    change row (a no-op re-enrichment leaking into the feed) or a
    missed cohort move fails the hash gate. The reference has neither
    joins nor aggregates nor change history; this is three derived
    artifacts maintained from one CDC arc."""
    import tempfile

    from aether_firebase_consumer_spark.sinks.upsert import (
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.streaming.incremental_agg import (
        CdfAggregateView,
    )
    from aether_firebase_consumer_spark.streaming.join_view import (
        CdfJoinView,
    )

    agg = _CHAIN.get(sf_dir)
    if agg is None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        root = tempfile.mkdtemp(prefix="docs_chain_")
        fact = ParquetUpsertTable(
            spark, os.path.join(root, "fact"), ["doc_id"],
            partition_col="lang", retain_versions=10,
            record_change_values=True)
        dim = ParquetUpsertTable(
            spark, os.path.join(root, "dim"), ["lang"],
            retain_versions=10)
        view = CdfJoinView(
            spark, os.path.join(root, "view"), fact, dim, "lang",
            os.path.join(root, "fck"), os.path.join(root, "dck"),
            table_kwargs={"record_change_values": True,
                          "record_change_preimages": True,
                          "retain_versions": 20})
        agg = CdfAggregateView(
            spark, os.path.join(root, "agg"), view.table,
            ["dim_weight"],
            {"n_docs": ("count", None),
             "sum_chars": ("sum", "n_chars")},
            os.path.join(root, "aggck"))
        dim.merge(docs.select("lang").distinct()
                  .filter(F.col("lang") != "zh")
                  .withColumn("weight", F.ascii("lang")))
        fact.merge(docs)
        view.refresh()
        agg.refresh()
        upd = (dim.read().filter(F.col("lang") == "en")
               .withColumn("weight", F.col("weight") + 1000))
        late = (docs.select("lang").distinct()
                .filter(F.col("lang") == "zh")
                .withColumn("weight", F.ascii("lang")))
        dim.merge(upd.unionByName(late))
        dim.delete_keys(
            spark.createDataFrame([("fr",)], "lang string"))
        fupd = (docs.filter((F.col("doc_id") % 10 == 3)
                            | (F.col("doc_id") % 7 == 2))
                .withColumn("n_chars",
                            F.when(F.col("doc_id") % 10 == 3,
                                   F.col("n_chars") + 1000)
                            .otherwise(F.col("n_chars")))
                .withColumn("lang",
                            F.when(F.col("doc_id") % 7 == 2,
                                   F.lit("xx"))
                            .otherwise(F.col("lang"))))
        fact.merge(fupd)
        doomed = fact.read().filter(F.col("doc_id") % 101 == 0)
        fact.delete_keys(doomed.select("doc_id", "lang"))
        view.refresh()
        agg.refresh()
        _CHAIN[sf_dir] = agg
    return (agg.read()
            .select(F.col("dim_weight").cast("int").alias("dim_weight"),
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.col("sum_chars").cast("bigint")
                    .alias("sum_chars")))


_TOPK_VIEW: dict[str, object] = {}


@register(
    "docs_incremental_topk",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, n_chars FROM documents
    ),
    s1 AS (   -- v1: value bumps + lang group-moves (composed)
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 2 THEN 'xx' ELSE lang END AS lang,
             CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM base
    ),
    s2 AS (SELECT * FROM s1 WHERE n_chars < 1000),  -- v2: evicts tops
    s3 AS (SELECT * FROM s2 WHERE doc_id % 101 <> 0)
    SELECT doc_id, lang, n_chars
    FROM s3
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY n_chars DESC NULLS LAST, doc_id ASC) <= 3
    """,
)
def docs_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental TOP-K per group view (round 12 —
    ``streaming/topk_view.py``): a ``CdfTopKView`` maintains the top-3
    documents per lang by n_chars from the retraction feed. The op
    script is built to EVICT maintained members: v1's +1000 bumps
    push doc_id%10==3 rows into every top-3 (and lang moves re-home
    doc_id%7==2 rows), then v2's ``delete_where(n_chars >= 1000)``
    retracts exactly those members — the dirty-group recompute must
    backfill each group's runner-ups from the pinned source version,
    partition-pruned on lang; v3's key deletes shave survivors. Two
    refreshes split the script (the maintained state folds across
    polls). The oracle re-derives the final corpus state in SQL and
    takes ``ROW_NUMBER() <= 3`` with the same (n_chars DESC NULLS
    LAST, doc_id ASC) tie-break, so a missed eviction, a stale
    member, or a group-move leak fails the hash gate. N=1 of this
    shape is the reference's entire sink semantics
    (latest-doc-per-id, /root/reference/firebase/app/helpers.py:
    93-114) — here it is a maintained lake table. Fixture builds once
    per (process, sf_dir); repeated runs measure the view read."""
    import tempfile

    from aether_firebase_consumer_spark.sinks.upsert import (
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.streaming.topk_view import (
        CdfTopKView,
    )

    view = _TOPK_VIEW.get(sf_dir)
    if view is None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        root = tempfile.mkdtemp(prefix="docs_topk_")
        table = ParquetUpsertTable(spark, os.path.join(root, "src"),
                                   ["doc_id"], partition_col="lang",
                                   retain_versions=10,
                                   record_change_values=True,
                                   record_change_preimages=True)
        view = CdfTopKView(
            spark, os.path.join(root, "view"), table, ["lang"],
            "n_chars", 3, descending=True,
            checkpoint_path=os.path.join(root, "cursor"))
        table.merge(docs)                                      # v0
        upd = (docs.filter((F.col("doc_id") % 10 == 3)
                           | (F.col("doc_id") % 7 == 2))
               .withColumn("n_chars",
                           F.when(F.col("doc_id") % 10 == 3,
                                  F.col("n_chars") + 1000)
                           .otherwise(F.col("n_chars")))
               .withColumn("lang",
                           F.when(F.col("doc_id") % 7 == 2,
                                  F.lit("xx"))
                           .otherwise(F.col("lang"))))
        table.merge(upd)                                       # v1
        view.refresh()                 # members now include the bumps
        table.delete_where(("n_chars", ">=", 1000))            # v2
        survivors = table.read().filter(F.col("doc_id") % 101 == 0)
        table.delete_keys(survivors.select("doc_id", "lang"))  # v3
        view.refresh()                 # evictions backfill
        _TOPK_VIEW[sf_dir] = view
    return (view.read()
            .select("doc_id", "lang",
                    F.col("n_chars").cast("bigint").alias("n_chars")))


_CHAIN_TOPK: dict[str, object] = {}


@register(
    "docs_view_chain_topk",
    oracle="""
    WITH langs AS (SELECT DISTINCT lang FROM documents),
    dim0 AS (
      SELECT lang, ascii(lang) AS weight FROM langs WHERE lang <> 'zh'
    ),
    dim1 AS (
      SELECT lang,
             CASE WHEN lang = 'en' THEN weight + 1000
                  ELSE weight END AS weight
      FROM dim0
      UNION ALL SELECT 'zh', ascii('zh')
    ),
    dim2 AS (SELECT * FROM dim1 WHERE lang <> 'fr'),
    f1 AS (     -- source v1: composed update incl. group moves
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 2 THEN 'xx' ELSE lang END AS lang,
             CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM documents
    ),
    r1 AS (     -- source v2 deletes the rank-1 row of every lang
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY lang
        ORDER BY n_chars DESC NULLS LAST, doc_id ASC) AS rn
      FROM f1
    ),
    f2 AS (SELECT doc_id, lang, n_chars FROM r1 WHERE rn > 1),
    f3 AS (SELECT * FROM f2 WHERE doc_id % 101 <> 0),  -- source v3
    top2 AS (
      SELECT doc_id, lang, n_chars FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY lang
          ORDER BY n_chars DESC NULLS LAST, doc_id ASC) AS rn
        FROM f3) WHERE rn <= 2
    )
    SELECT t.doc_id, t.lang, t.n_chars,
           CAST(d.weight AS INT) AS dim_weight
    FROM top2 t LEFT JOIN dim2 d USING (lang)
    """,
)
def docs_view_chain_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K view CHAINED into an enrich join (round 13, VERDICT r12
    item 3): source documents → ``CdfTopKView`` (top-2 docs per lang
    by n_chars — the ``events_latest_per_user`` serving shape, the
    reference's whole sink is its N=1 case,
    /root/reference/firebase/app/helpers.py:98-103) → the top-k
    table's OWN retraction feed (``table_kwargs`` recording) drives a
    ``CdfJoinView`` that enriches each member with the per-lang dim.
    The op script makes the chain retract through BOTH hops: n_chars
    bumps + lang moves churn memberships, then v2 DELETES the rank-1
    row of every lang — the top-k view promotes each bench row (the
    round-13 order-statistic buffer: zero source reads for m >= 1)
    and emits delete+insert changes that the join view folds into
    re-enriched members; dim updates (en bump, zh late insert, fr
    delete) re-enrich members through the dim-side fan-in. The oracle
    re-derives the final corpus state, takes the same ROW_NUMBER
    top-2 with (n_chars DESC NULLS LAST, doc_id ASC) tie-break, and
    re-joins the final dim — a stale member, a missed promotion, or
    a leaked bench row fails the hash gate."""
    import tempfile

    from aether_firebase_consumer_spark.sinks.upsert import (
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.streaming.join_view import (
        CdfJoinView,
    )
    from aether_firebase_consumer_spark.streaming.topk_view import (
        CdfTopKView,
    )

    join = _CHAIN_TOPK.get(sf_dir)
    if join is None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        root = tempfile.mkdtemp(prefix="docs_chain_topk_")
        src = ParquetUpsertTable(
            spark, os.path.join(root, "src"), ["doc_id"],
            partition_col="lang", retain_versions=10,
            record_change_values=True,
            record_change_preimages=True)
        topk = CdfTopKView(
            spark, os.path.join(root, "topk"), src, ["lang"],
            "n_chars", 2, descending=True,
            checkpoint_path=os.path.join(root, "tcur"),
            table_kwargs={"record_change_values": True,
                          "record_change_preimages": True,
                          "retain_versions": 20})
        dim = ParquetUpsertTable(
            spark, os.path.join(root, "dim"), ["lang"],
            retain_versions=10)
        join = CdfJoinView(
            spark, os.path.join(root, "join"), topk.table, dim,
            "lang", os.path.join(root, "fck"),
            os.path.join(root, "dck"), dim_prefix="dim_")
        dim.merge(docs.select("lang").distinct()
                  .filter(F.col("lang") != "zh")
                  .withColumn("weight", F.ascii("lang")))  # dim v0
        src.merge(docs)                                    # src v0
        upd = (docs.filter((F.col("doc_id") % 10 == 3)
                           | (F.col("doc_id") % 7 == 2))
               .withColumn("n_chars",
                           F.when(F.col("doc_id") % 10 == 3,
                                  F.col("n_chars") + 1000)
                           .otherwise(F.col("n_chars")))
               .withColumn("lang",
                           F.when(F.col("doc_id") % 7 == 2,
                                  F.lit("xx"))
                           .otherwise(F.col("lang"))))
        src.merge(upd)                                     # src v1
        topk.refresh()
        join.refresh()
        # src v2: evict the CURRENT rank-1 row of every lang — the
        # bench promotes each runner-up with zero source reads
        leaders = (topk.read(with_rank=True)
                   .filter(F.col("rank") == 1)
                   .select("doc_id", "lang"))
        src.delete_keys(leaders)
        doomed = src.read().filter(F.col("doc_id") % 101 == 0)
        src.delete_keys(doomed.select("doc_id", "lang"))   # src v3
        dimupd = (dim.read().filter(F.col("lang") == "en")
                  .withColumn("weight", F.col("weight") + 1000))
        late = (docs.select("lang").distinct()
                .filter(F.col("lang") == "zh")
                .withColumn("weight", F.ascii("lang")))
        dim.merge(dimupd.unionByName(late))                # dim v1
        dim.delete_keys(
            spark.createDataFrame([("fr",)], "lang string"))  # dim v2
        topk.refresh()
        join.refresh()
        _CHAIN_TOPK[sf_dir] = join
    return (join.read()
            .select("doc_id", "lang", "n_chars",
                    F.col("dim_weight").cast("int")
                    .alias("dim_weight")))


_HLL_VIEW: dict[str, object] = {}


@register("docs_incremental_agg_hll")  # rows-only: DuckDB cannot
# replicate Spark's xxhash64, so the sketch estimate has no SQL twin;
# determinism (maintained estimate == recompute-from-source sketch,
# exactly) and accuracy (within 4 standard errors of the true count)
# are pinned in tests/test_hll_view.py and the randomized property
# suite instead.
def docs_incremental_agg_hll(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """APPROXIMATE count-distinct view maintenance (round 12 —
    ``CdfAggregateView`` with ``approx_count_distinct``): per-lang
    HLL sketches of distinct n_chars values, maintained from the
    retraction feed over the SAME op script as
    :func:`docs_incremental_agg` (composed updates, group moves,
    predicate + key deletes). Inserts fold additively into the
    per-(lang, register) table — register max is monotone, zero
    source reads; retractions dirty the pre-image lang and recompute
    only its registers at the pinned version. State is capped at
    2^p rows per group (p=12, ~1.6% standard error) vs the exact
    multiset's O(distinct pairs) — the 100 TB shape for
    high-cardinality distinct counts. The maintained estimate is
    deterministic (equal to a full recompute's sketch), so this query
    is stable across runs even though it has no SQL oracle."""
    from aether_firebase_consumer_spark.streaming.incremental_agg import (
        CdfAggregateView,
    )

    view = _HLL_VIEW.get(sf_dir)
    if view is None:
        sibling = _iagg_fixture(spark, sf_dir)
        root = sibling._iagg_root
        view = CdfAggregateView(
            spark, os.path.join(root, "hllview"), sibling.source,
            ["lang"],
            {"nd_chars_approx": ("approx_count_distinct", "n_chars")},
            os.path.join(root, "hllcursor"))
        view.refresh()
        _HLL_VIEW[sf_dir] = view
    return (view.read()
            .select("lang",
                    F.col("nd_chars_approx").cast("bigint")
                    .alias("nd_chars_approx")))


_HLL_MERGE: dict[str, object] = {}


@register("docs_hll_sketch_merge")  # rows-only: like
# docs_incremental_agg_hll, the estimate rides Spark's xxhash64 which
# DuckDB cannot replicate; the merge EXACTNESS contract
# (merge(sketch(A), sketch(B)) == sketch(A ∪ B), register-for-
# register) is pinned in tests/test_hll_view.py.
def docs_hll_sketch_merge(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Cross-table HLL sketch MERGE (round 13 — ``functions.hll.
    merge_sketch_tables``): the documents corpus is ingested as TWO
    independent upsert tables (doc_id parity split — two tenants /
    partitions of a 100 TB corpus), each maintaining its own
    per-lang ``approx_count_distinct(n_chars)`` register table via
    ``CdfAggregateView``; the rollup merges the two REGISTER tables
    (union + max per (lang, register) — one shuffle over at most
    2 × 2^p × |langs| rows) and estimates, never re-scanning either
    source. Deterministic: the merged estimate equals the
    single-table sketch over the full corpus exactly."""
    import tempfile

    from aether_firebase_consumer_spark.functions.hll import (
        hll_estimate_df,
        merge_sketch_tables,
    )
    from aether_firebase_consumer_spark.sinks.upsert import (
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.streaming.incremental_agg import (
        CdfAggregateView,
    )

    p = 12
    views = _HLL_MERGE.get(sf_dir)
    if views is None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        root = tempfile.mkdtemp(prefix="docs_hll_merge_")
        views = []
        for side in (0, 1):
            table = ParquetUpsertTable(
                spark, os.path.join(root, f"src{side}"), ["doc_id"],
                partition_col="lang", retain_versions=10,
                record_change_values=True,
                record_change_preimages=True)
            table.merge(docs.filter(F.col("doc_id") % 2 == side))
            v = CdfAggregateView(
                spark, os.path.join(root, f"view{side}"), table,
                ["lang"], {"nd": ("approx_count_distinct", "n_chars")},
                os.path.join(root, f"cursor{side}"), hll_p=p)
            v.refresh()
            views.append(v)
        _HLL_MERGE[sf_dir] = views
    merged = merge_sketch_tables(views[0].hll_sketch("nd"),
                                 views[1].hll_sketch("nd"), ["lang"])
    return (hll_estimate_df(merged, ["lang"], p, out_col="nd_merged")
            .select("lang", F.col("nd_merged").cast("bigint")
                    .alias("nd_merged")))


_DD_VIEW: dict[str, object] = {}


@register("docs_quantile_sketch")  # rows-only: the estimate is a DD
# bucket midpoint (2*gamma^i/(gamma+1)) — ln/pow ULP differences
# between engines could flip a boundary bucket, so there is no
# bit-exact SQL twin; the canonical-state contract (maintained sketch
# == recompute-from-source sketch, bucket-for-bucket, even under
# deletes) and the alpha relative-value bound vs the exact discrete
# quantiles are pinned in tests/test_dd_view.py.
def docs_quantile_sketch(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Mergeable APPROXIMATE-QUANTILE view maintenance (round 14 —
    ``CdfAggregateView`` with ``approx_quantile``, the DDSketch tier
    in ``functions/ddsketch.py``): per-lang p50/p90/p99 of n_chars,
    maintained from the retraction feed over the SAME op script as
    :func:`docs_incremental_agg` (composed updates, group moves,
    predicate + key deletes). Bucket counts are SIGNED, so inserts
    AND retractions both fold additively — the only approximate
    measure whose maintenance never reads the source (no dirty-group
    recompute exists). State is O(log value-spread) rows per group
    (~1.2k ceiling at alpha=1% over n_chars' range); estimates carry
    DDSketch's guarantee: within 1% relative value error of the
    exact rank-ceil(q*n) quantile. The 100 TB shape for per-group
    percentile serving: a maintained O(buckets) sketch per group,
    mergeable across tables with one O(buckets) shuffle
    (``merge_dd_sketches``) — ``corpus_token_quantiles`` is the
    exact-batch twin this replaces at scale."""
    from aether_firebase_consumer_spark.streaming.incremental_agg import (
        CdfAggregateView,
    )

    view = _DD_VIEW.get(sf_dir)
    if view is None:
        sibling = _iagg_fixture(spark, sf_dir)
        root = sibling._iagg_root
        view = CdfAggregateView(
            spark, os.path.join(root, "ddview"), sibling.source,
            ["lang"],
            {"len_q": ("approx_quantile", "n_chars",
                       (0.5, 0.9, 0.99))},
            os.path.join(root, "ddcursor"))
        view.refresh()
        _DD_VIEW[sf_dir] = view
    return (view.read()
            .select("lang", "len_q_p50", "len_q_p90", "len_q_p99"))


_JOINVIEW_ALIGNED: dict[str, object] = {}


@register(
    "docs_join_view_aligned",
    oracle="""
    WITH langs AS (SELECT DISTINCT lang FROM documents),
    dim0 AS (
      SELECT lang, ascii(lang) AS weight FROM langs WHERE lang <> 'zh'
    ),
    dim1 AS (
      SELECT lang,
             CASE WHEN lang = 'en' THEN weight + 1000
                  ELSE weight END AS weight
      FROM dim0
      UNION ALL SELECT 'zh', ascii('zh')
    ),
    dim2 AS (SELECT * FROM dim1 WHERE lang <> 'fr'),
    f1 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 2 THEN 'xx' ELSE lang END AS lang,
             CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM documents
    ),
    f2 AS (SELECT * FROM f1 WHERE doc_id % 101 <> 0)
    SELECT f2.doc_id, f2.lang, f2.n_chars,
           CAST(d.weight AS INT) AS dim_weight
    FROM f2 LEFT JOIN dim2 d USING (lang)
    """,
)
def docs_join_view_aligned(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """SNAPSHOT-ALIGNED join-view maintenance under the driver gate
    (round 12 — ``CdfJoinView.refresh_aligned``): the same op script
    and oracle as :func:`docs_join_view`, but every refresh pins both
    folds to one captured (fact_version, dim_version) pair via time
    travel — THREE aligned refreshes split the script at points where
    the two sources are mutually torn (dim ahead of fact, then fact
    ahead of dim), so each intermediate refresh lands on a consistent
    cross-source snapshot and the final one equals the full re-join
    at the head pair, which the oracle recomputes in SQL. Exercises
    the versioned data-skipping read (``read_where(key IN ...,
    version=fv)``) and pinned dim time travel on every dim fold.
    The stronger per-refresh invariant (every refresh == re-join at
    exactly the committed cursor pair, under random interleavings
    including torn plain refreshes) is property-pinned in
    tests/test_view_property.py."""
    import tempfile

    from aether_firebase_consumer_spark.sinks.upsert import (
        ParquetUpsertTable,
    )
    from aether_firebase_consumer_spark.streaming.join_view import (
        CdfJoinView,
    )

    view = _JOINVIEW_ALIGNED.get(sf_dir)
    if view is None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "lang", "n_chars")
        root = tempfile.mkdtemp(prefix="docs_joinview_al_")
        fact = ParquetUpsertTable(
            spark, os.path.join(root, "fact"), ["doc_id"],
            partition_col="lang", retain_versions=10,
            record_change_values=True)
        dim = ParquetUpsertTable(
            spark, os.path.join(root, "dim"), ["lang"],
            retain_versions=10)
        view = CdfJoinView(
            spark, os.path.join(root, "view"), fact, dim, "lang",
            os.path.join(root, "fck"), os.path.join(root, "dck"),
            dim_prefix="dim_")
        dim.merge(docs.select("lang").distinct()
                  .filter(F.col("lang") != "zh")
                  .withColumn("weight", F.ascii("lang")))   # dim v0
        fact.merge(docs)                                    # fact v0
        view.refresh_aligned()
        # dim moves ahead of the fact cursor: v1 (en bump + late zh)
        # and v2 (delete fr) land before the next refresh
        upd = (dim.read().filter(F.col("lang") == "en")
               .withColumn("weight", F.col("weight") + 1000))
        late = (docs.select("lang").distinct()
                .filter(F.col("lang") == "zh")
                .withColumn("weight", F.ascii("lang")))
        dim.merge(upd.unionByName(late))                    # dim v1
        dim.delete_keys(
            spark.createDataFrame([("fr",)], "lang string"))  # dim v2
        view.refresh_aligned()       # snapshot (fact v0, dim v2)
        # fact moves ahead of the dim cursor
        fupd = (docs.filter((F.col("doc_id") % 10 == 3)
                            | (F.col("doc_id") % 7 == 2))
                .withColumn("n_chars",
                            F.when(F.col("doc_id") % 10 == 3,
                                   F.col("n_chars") + 1000)
                            .otherwise(F.col("n_chars")))
                .withColumn("lang",
                            F.when(F.col("doc_id") % 7 == 2,
                                   F.lit("xx"))
                            .otherwise(F.col("lang"))))
        fact.merge(fupd)                                    # fact v1
        doomed = fact.read().filter(F.col("doc_id") % 101 == 0)
        fact.delete_keys(doomed.select("doc_id", "lang"))   # fact v2
        view.refresh_aligned()       # snapshot (fact v2, dim v2)
        _JOINVIEW_ALIGNED[sf_dir] = view
    return (view.read()
            .select("doc_id", "lang", "n_chars",
                    F.col("dim_weight").cast("int")
                    .alias("dim_weight")))
