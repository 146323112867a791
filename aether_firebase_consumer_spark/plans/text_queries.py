"""Text-analysis queries over the documents table (SURVEY.md §2.3):
token counting, quality scoring, language-ID scoring, fingerprinting.

Each is a single-scan, shuffle-free (or single-shuffle) Catalyst plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from aether_firebase_consumer_spark.functions.text import (
    LANG_STOPWORDS,
    fingerprint,
    lang_scores,
    quality_score,
    rolling_hash,
    token_count,
)
from aether_firebase_consumer_spark.materialize import materialize
from aether_firebase_consumer_spark.plans import register
from aether_firebase_consumer_spark.tables import fan_out_for_compute, load_table


@register(
    "text_token_stats",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks,
                      length(text) AS n_chars_actual
               FROM documents)
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           n_chars_actual,
           len(list_distinct(toks)) AS n_unique_tokens,
           CAST(n_chars_actual AS DOUBLE) / len(toks) AS avg_token_len
    FROM t
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document — single scan, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id", "lang",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        (F.length("text").cast("double") / F.size(toks)).alias("avg_token_len"),
    )


@register(
    "text_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, text,
             string_split(text, ' ') AS toks,
             length(text) AS nc,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS npunct
      FROM documents
    )
    SELECT doc_id, lang,
           round((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
                  + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                  + (1.0 - least(5.0 * npunct / greatest(nc, 1), 1.0))
                 ) / 3, 6) AS quality
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length / diversity / punctuation) —
    the pre-training corpus filter primitive."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", quality_score("text").alias("quality"))


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return (f"CAST(len(list_filter(toks, t -> t IN ({words}))) AS DOUBLE)"
            f" / greatest(len(toks), 1) AS score_{lang}")


@register(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents)
    SELECT doc_id, lang,
           {", ".join(_lang_score_sql(lang) for lang in LANG_STOPWORDS)}
    FROM t
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID features: per-language stopword-hit ratios (argmax =
    predicted language; features emitted so the oracle is exact)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", *lang_scores("text"))


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> ''), ' ')) AS fp,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 t -> CAST(ascii(t) * 31 + length(t) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 of the normalized token stream +
    polynomial rolling hash (fold, JVM-side)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        rolling_hash("text").alias("rolling"),
    )


@register(
    "text_corpus_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS DOUBLE)
               AS avg_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level rollup per language — the dataset-card numbers."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
             F.sum(F.length("text")).cast("bigint").alias("total_chars"),
             (F.sum(F.length("text")).cast("double") / F.count("*"))
             .cast("double").alias("avg_chars"))
        .orderBy("lang")
    )


@register(
    "docs_quality_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, text,
             string_split(text, ' ') AS toks,
             length(text) AS nc,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS npunct
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             len(toks) AS n_tokens,
             round((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
                    + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                    + (1.0 - least(5.0 * npunct / greatest(nc, 1), 1.0))
                   ) / 3, 6) AS quality
      FROM t
    )
    SELECT doc_id, lang, n_tokens, quality,
           n_tokens BETWEEN 20 AND 5000 AS len_ok,
           quality >= 0.75 AS q_ok,
           lang = 'en' AS lang_ok,
           (n_tokens BETWEEN 20 AND 5000) AND quality >= 0.75
             AND lang = 'en' AS keep
    FROM scored
    """,
)
def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4-style composite corpus filter: token-count bounds +
    heuristic quality threshold + language gate, emitted as per-rule
    flags plus the final keep decision (so the drop *reasons* are
    auditable, the way real training-data pipelines log them).

    Single scan, zero shuffles, all codegen — at 100 TB this is the
    cheapest possible pass: one read, per-row arithmetic, and the
    downstream pipeline filters on ``keep`` (Catalyst pushes that
    filter straight into this projection)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = token_count("text")
    scored = docs.select(
        "doc_id", "lang",
        n_tokens.alias("n_tokens"),
        quality_score("text").alias("quality"))
    len_ok = F.col("n_tokens").between(20, 5000)
    q_ok = F.col("quality") >= 0.75
    lang_ok = F.col("lang") == "en"
    return scored.select(
        "doc_id", "lang", "n_tokens", "quality",
        len_ok.alias("len_ok"),
        q_ok.alias("q_ok"),
        lang_ok.alias("lang_ok"),
        (len_ok & q_ok & lang_ok).alias("keep"))


#: Redaction patterns, restricted to syntax Java regex and RE2 share
#: (no backrefs, no lookaround) so Spark and DuckDB match identically.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_LONGNUM = r"[0-9]{6,}"


@register(
    "text_pii_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_LONGNUM}')) AS INT)
             AS n_longnums,
           regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>',
                                         'g'),
                          '{_PII_LONGNUM}', '<NUM>', 'g') AS redacted
    FROM documents
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the corpus: replace email addresses and long
    digit runs with placeholder tokens and count the hits per document
    — the redaction pre-pass a training pipeline runs before text ever
    reaches tokenization (the batch-corpus analogue of the reference's
    column-level masking, ``firebase/app/artifacts.py:359-370``).
    Patterns stay within the regex subset Java and RE2 evaluate
    identically. Single scan, per-row codegen, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL)))
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_LONGNUM)))
        .alias("n_longnums"),
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_LONGNUM, "<NUM>").alias("redacted"))


def _max_score_sql() -> str:
    return "greatest(" + ", ".join(
        f"score_{lang}" for lang in sorted(LANG_STOPWORDS)) + ")"


def _pred_case_sql() -> str:
    whens = " ".join(
        f"WHEN score_{lang} = m THEN '{lang}'"
        for lang in sorted(LANG_STOPWORDS))
    return f"CASE {whens} END"


@register(
    "lang_id_confusion",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents),
    scored AS (
      SELECT doc_id, lang,
             {", ".join(_lang_score_sql(lang) for lang in LANG_STOPWORDS)}
      FROM t
    ),
    pred AS (
      SELECT lang AS actual, {_pred_case_sql()} AS predicted
      FROM (SELECT *, {_max_score_sql()} AS m FROM scored)
    )
    SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY actual, predicted
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the language-ID confusion
    matrix (actual x predicted counts). Prediction = first language in
    alphabetical order achieving the max stopword-ratio score —
    deterministic tie-break mirrored exactly in the oracle's CASE
    chain; scores are exact rationals so the argmax is bit-stable.
    Single scan + one tiny (|langs|^2-bounded) aggregate — eval
    pipelines at corpus scale are this cheap when expressed
    declaratively."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang", *lang_scores("text"))
    langs = sorted(LANG_STOPWORDS)
    m = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.when(F.col(f"score_{langs[0]}") == m, langs[0])
    for lang in langs[1:]:
        pred = pred.when(F.col(f"score_{lang}") == m, lang)
    return (scored.select(F.col("lang").alias("actual"),
                          pred.alias("predicted"))
            .groupBy("actual", "predicted")
            .agg(F.count("*").cast("bigint").alias("n")))


@register(
    "text_char_bigram_score",
    oracle="""
    WITH bg AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, length(text) - 1),
               i -> substr(text, i, 2))) AS bg
      FROM documents WHERE length(text) >= 2
    ),
    counts AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c
               FROM bg GROUP BY bg),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM bg)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(c.c) AS BIGINT) AS sum_counts,
           CAST(SUM(c.c) AS DOUBLE) / CAST(COUNT(*) * t.total AS DOUBLE)
             AS score
    FROM bg b JOIN counts c USING (bg), tot t
    GROUP BY b.doc_id, t.total
    """,
)
def text_char_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language-model quality score without a model: the
    corpus's own character-bigram distribution IS the model (the
    KenLM-filter idea at its cheapest). Each document scores as the
    mean corpus-frequency of its bigrams — gibberish, binary spew, and
    wrong-language text sit in the low tail; the score is a RATIO of
    exact integer counts (one double division at the end), not a sum
    of logs, so the gate stays bit-exact cross-engine (the 'rational
    form over ln' rule).

    Scale shape: the bigram vocabulary is tiny (bounded by charset²),
    so the frequency table broadcasts and the per-doc scoring join is
    map-side; the only shuffles are the vocabulary count and the
    per-doc aggregation. Training and scoring are ONE pass each over
    the same exploded frame — Spark reuses the scan."""
    docs = load_table(spark, sf_dir, "documents") \
        .filter(F.length("text") >= 2)
    bg = docs.select("doc_id", F.explode(F.expr(
        "transform(sequence(1, length(text) - 1), "
        "i -> substring(text, i, 2))")).alias("bg"))
    counts = bg.groupBy("bg").agg(F.count("*").cast("bigint").alias("c"))
    tot = bg.agg(F.count("*").cast("bigint").alias("total"))
    scored = (bg.join(F.broadcast(counts), "bg")
              .groupBy("doc_id")
              .agg(F.count("*").cast("bigint").alias("n_bigrams"),
                   F.sum("c").cast("bigint").alias("sum_counts")))
    return (scored.crossJoin(F.broadcast(tot))
            .select("doc_id", "n_bigrams", "sum_counts",
                    (F.col("sum_counts").cast("double")
                     / (F.col("n_bigrams") * F.col("total"))
                     .cast("double")).alias("score")))


@register(
    "text_bm25_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ),
    n AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS s_tok,
             (SELECT COUNT(*) FROM dl) AS d_docs
    ),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(44 * tf.tf * n.s_tok * n.n_docs AS DOUBLE)
               / CAST(df.df * (20 * tf.tf * n.s_tok
                               + 6 * n.s_tok
                               + 18 * dl.dl * n.d_docs) AS DOUBLE)
               AS score
      FROM tf
      JOIN df ON tf.term = df.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, score, rn FROM ranked WHERE rn <= 3
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by BM25 (k1=1.2, b=0.75) — the
    retrieval-grade successor to ``text_tfidf_topk``: term-frequency
    saturation (tf·(k1+1)/(tf+k1·…)) plus document-length
    normalization (b·dl/avgdl), with idf in rational form (N/df).

    Bit-exactness: the float form of BM25 is a 7-op double tree whose
    per-op rounding drifts a ulp between engines, so the score is
    algebraically cleared of its inner divisions first. With
    S = Σ tokens, D = |docs|, avgdl = S/D and k1=6/5, b=3/4:

        score = 44·tf·S·N / (df · (20·tf·S + 6·S + 18·dl·D))

    — exact BIGINT arithmetic up to ONE final double division, the
    same single-rounding trick the repo's other scores use ("rational
    form over ln"). Overflow bound: 44·tf·S·N must fit BIGINT —
    true through sf0.1 by orders of magnitude; at 100 TB switch to
    the float form (scores then drive a top-k, where a last-ulp tie
    flip is immaterial without an oracle hash to match).

    Plan shape: one exploded token frame reused for tf / df / dl; df
    is a broadcast-sized vocabulary side; dl co-partitions with tf on
    doc_id; S, D, N are driver scalars (one count + one 1-row agg).
    Top-k per doc via row_number on the shuffle tf already needs."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    # one driver action for all three corpus scalars (was a count()
    # plus a separate 2-scalar agg — two setup jobs for one scan's
    # worth of data): s_tok/d_docs recomputed from the docs scan
    # directly — sum(size(split)) ≡ sum(dl) and count(text) ≡ the
    # number of docs explode keeps (split never yields an empty
    # array; only NULL text drops out) — so the values, and the
    # oracle hash, are bit-identical to the dl-side aggregation
    # (guard NULL text explicitly: legacy configs make size(NULL) = -1,
    # which would silently skew the sum instead of being skipped)
    n_docs, s_tok, d_docs = docs.agg(
        F.count("*"),
        F.coalesce(F.sum(F.when(F.col("text").isNotNull(),
                                F.size(F.split("text", " ")))), F.lit(0)),
        F.count("text")).collect()[0]
    num = (F.lit(44) * F.col("tf") * F.lit(s_tok) * F.lit(n_docs)) \
        .cast("double")
    den = (F.col("df") * (F.lit(20) * F.col("tf") * F.lit(s_tok)
                          + F.lit(6 * s_tok)
                          + F.lit(18 * d_docs) * F.col("dl"))) \
        .cast("double")
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .withColumn("score", num / den)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "score", "rn")
    )


@register(
    "corpus_ngram_novelty",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text,' ')) - 2,
                                           0)),
               i -> array_to_string(string_split(text,' ')[i:i+2], ' '))))
               AS s
      FROM documents
    ),
    df AS (SELECT s, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY s),
    scored AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_shingles,
             SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_unique
      FROM sh JOIN df ON sh.s = df.s
      GROUP BY sh.doc_id
    )
    SELECT doc_id, n_shingles, n_unique,
           CAST(n_unique AS DOUBLE) / n_shingles AS novelty
    FROM scored
    """,
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct
    3-shingles that appear in NO other document — high novelty marks
    fresh content, low novelty marks boilerplate/templates/copies (the
    memorization-risk signal curation pipelines threshold on; the
    complement of ``dedup_chunk_overlap``'s shared-chunk ratio, at
    shingle granularity).

    Plan shape: one shingle explode feeds both the document-frequency
    aggregation and the per-doc join-back; the DF side is
    vocabulary-bounded. The ratio is one double division of exact
    counts — bit-exact cross-engine. At 100 TB the shingle join keys
    become 60-bit hashes (as in the dedup family) so the shuffle never
    carries text."""
    from aether_firebase_consumer_spark.functions.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id",
                     F.explode(shingles(F.col("text"), 3)).alias("s"))
    df_ = sh.groupBy("s").agg(F.countDistinct("doc_id").alias("df"))
    return (sh.join(df_, "s")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shingles"),
                 F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                 .alias("n_unique"))
            .select("doc_id", "n_shingles", "n_unique",
                    (F.col("n_unique").cast("double")
                     / F.col("n_shingles")).alias("novelty")))


@register(
    "text_centroid_lang_classifier",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    tc AS (
      SELECT doc_id, lang, tok, COUNT(*) AS c
      FROM toks WHERE tok <> '' GROUP BY 1, 2, 3
    ),
    train AS (SELECT * FROM tc WHERE doc_id % 10 < 8),
    test  AS (SELECT * FROM tc WHERE doc_id % 10 >= 8),
    prof AS (
      SELECT lang AS plang, tok, SUM(c) AS clt FROM train GROUP BY 1, 2
    ),
    nl AS (SELECT plang, SUM(clt) AS n FROM prof GROUP BY 1),
    s AS (
      SELECT t.doc_id, p.plang, SUM(t.c * p.clt) AS s
      FROM test t JOIN prof p USING (tok) GROUP BY 1, 2
    ),
    base AS (SELECT DISTINCT doc_id, lang AS true_lang FROM test),
    sc AS (
      SELECT b.doc_id, b.true_lang, nl.plang, nl.n,
             COALESCE(s.s, 0) AS s
      FROM base b CROSS JOIN nl
      LEFT JOIN s ON s.doc_id = b.doc_id AND s.plang = nl.plang
    ),
    w AS (
      SELECT a.doc_id, a.true_lang, a.plang,
             SUM(CASE WHEN CAST(a.s AS HUGEINT) * b.n
                           > CAST(b.s AS HUGEINT) * a.n
                        OR (CAST(a.s AS HUGEINT) * b.n
                            = CAST(b.s AS HUGEINT) * a.n
                            AND a.plang < b.plang)
                      THEN 1 ELSE 0 END) AS wins
      FROM sc a JOIN sc b
        ON a.doc_id = b.doc_id AND a.plang <> b.plang
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, plang AS pred_lang, true_lang,
           CAST(plang = true_lang AS INT) AS correct
    FROM w
    WHERE wins = (SELECT COUNT(*) FROM nl) - 1
    """,
)
def text_centroid_lang_classifier(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Model-based filtering, trained AND applied relationally (round
    7): a Rocchio/centroid token-frequency classifier — the exact-
    arithmetic cousin of the fastText-style language/quality models
    production corpus pipelines gate on (CCNet-style). Train = the
    80% split's per-language token-frequency profiles; classify the
    held-out 20% by the length-normalized overlap score
    ``S_l / N_l = Σ_t c_t·c_lt / Σ_t c_lt``; report per-doc
    prediction + correctness against the held-out label.

    The argmax is EXACT: instead of a float ratio (whose sum order
    would drift a ulp between engines), languages are compared
    pairwise on the cross-multiplied integers ``S_a·N_b vs S_b·N_a``
    (decimal/HUGEINT — no overflow even at corpus scale), ties broken
    by language name; the winner is the language beating all others.
    Everything is joins and integer aggregations, so the DuckDB
    oracle reproduces it bit-for-bit — no ln(), no doubles anywhere.

    Scale shape: profiles are a (lang, token) aggregate with map-side
    partial sums (vocab-bounded, NOT corpus-bounded); the 5-row mass
    table broadcasts; scoring is one equi-join of test tokens into
    the profile and a (doc, lang) aggregate; the pairwise argmax is a
    5×5-per-doc self-join of a doc×lang frame — all linear in docs.

    Fixture note: the synthetic documents share one vocabulary across
    every ``lang`` label (labels are independent of tokens), so
    measured accuracy here is chance (~0.2 over 5 classes) BY
    CONSTRUCTION of the data — the oracle gate pins train+apply
    exactness; ``tests/test_operators.py::
    test_centroid_classifier_learns_real_signal`` pins that the model
    reaches 100% on a fixture whose labels do drive the tokens."""
    docs = fan_out_for_compute(load_table(spark, sf_dir, "documents"))
    return centroid_classify(docs, "doc_id", "lang", "text",
                             F.col("doc_id") % 10 < 8)


def centroid_classify(docs: DataFrame, id_col: str, label_col: str,
                      text_col: str, is_train) -> DataFrame:
    """The classifier proper (see ``text_centroid_lang_classifier``):
    per-label token-frequency centroids trained on rows where the
    ``is_train`` Column holds, the rest classified by the exact
    integer pairwise argmax of the length-normalized overlap score.
    Returns (doc_id, pred_lang, true_lang, correct) using the given
    columns."""
    base_cols = docs.select(F.col(id_col).alias("doc_id"),
                            F.col(label_col).alias("lang"),
                            F.col(text_col).alias("text"),
                            is_train.alias("_train"))
    toks = (base_cols.select("doc_id", "lang", "_train",
                             F.explode(F.split("text", " "))
                             .alias("tok"))
            .filter(F.col("tok") != ""))
    tc = toks.groupBy("doc_id", "lang", "_train", "tok").agg(
        F.count("*").alias("c"))
    # ONE materialization of the token counts (r14): tc feeds the
    # profile (via train), the scoring join and the doc base (via
    # test), and the score frame is then self-joined for the pairwise
    # argmax — without this the explode+aggregate re-derives once per
    # reference (the plan audit counted 28 shuffles; measured
    # 2.87 s -> 1.98 s at sf0.1/local[32]). Checkpointing further
    # downstream (sc, nl) measured slower: each extra eager action
    # costs more than the reuse it buys. The policy A/B and its
    # cluster-mode caveat: :mod:`~..materialize`.
    tc, _ = materialize(tc)
    train = tc.filter(F.col("_train"))
    test = tc.filter(~F.col("_train"))
    prof = (train.groupBy(F.col("lang").alias("plang"), "tok")
            .agg(F.sum("c").alias("clt")))
    nl = prof.groupBy("plang").agg(F.sum("clt").alias("n"))
    s = (test.join(prof, "tok")
         .groupBy("doc_id", "plang")
         .agg(F.sum(F.col("c") * F.col("clt")).alias("s")))
    base = test.select("doc_id", F.col("lang").alias("true_lang")) \
        .distinct()
    sc = (base.crossJoin(F.broadcast(nl))
          .join(s, ["doc_id", "plang"], "left")
          .withColumn("s", F.coalesce(F.col("s"), F.lit(0))))
    a, b = sc.alias("a"), sc.alias("b")
    dec = lambda col: F.col(col).cast("decimal(38,0)")
    beats = ((dec("a.s") * F.col("b.n") > dec("b.s") * F.col("a.n"))
             | ((dec("a.s") * F.col("b.n") == dec("b.s") * F.col("a.n"))
                & (F.col("a.plang") < F.col("b.plang"))))
    w = (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                & (F.col("a.plang") != F.col("b.plang")))
         .groupBy(F.col("a.doc_id").alias("doc_id"),
                  F.col("a.true_lang").alias("true_lang"),
                  F.col("a.plang").alias("pred_lang"))
         .agg(F.sum(beats.cast("int")).alias("wins")))
    n_langs = nl.count()   # bounded driver action (≤ #languages)
    return (w.filter(F.col("wins") == n_langs - 1)
            .select("doc_id", "pred_lang", "true_lang",
                    (F.col("pred_lang") == F.col("true_lang"))
                    .cast("int").alias("correct")))
