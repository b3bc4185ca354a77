"""Text-analysis / dedup graded queries over the documents table
(SURVEY.md §2.I). Oracle-paired where SQL-expressible; the LSH/SimHash
algorithms register rows-only (not SQL-expressible) but are additionally
golden-tested in tests/.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from noaa_etl_spark.functions.text import (
    EN_STOPWORDS,
    LANG_MARKERS,
    marker_hits,
    ngrams,
    tokenize,
)
from noaa_etl_spark.io import load_table, spread_small_scan
from noaa_etl_spark.operators.dedup import (
    exact_dedup,
    jaccard,
    minhash_lsh_dedup,
    minhash_sketch_dedup,
    simhash_near_dup,
)
from noaa_etl_spark.registry import graded


@graded(
    "q_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS kept_doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, deterministic min-id survivor.

    No final orderBy: a dedup output is a table, not a report — the
    graded compare is order-insensitive, the baseline's form (BASELINE.md
    q_dedup_docs) carries no sort, and at 100 TB a global range-sort of
    the survivor set would dwarf the dedup itself (measured 1.9× the
    whole query at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs).select("kept_doc_id", "n_copies")


@graded(
    "q_dedup_hash",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS kept_doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY text_hash
    """,
)
def q_dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed dedup (md5 here because it is cross-engine comparable;
    the engine's scale form uses xxhash64 — operators/dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("text_hash")
    )


@graded(
    "q_wordcount",
    oracle="""
    SELECT w AS word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    GROUP BY w
    ORDER BY cnt DESC, word
    LIMIT 20
    """,
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency, top-20."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(20)
    )


@graded(
    "q_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT)           AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique,
           n_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting (whitespace tokenizer)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        "n_chars",
    ).orderBy("doc_id")


@graded(
    "q_lang_stats",
    oracle="""
    SELECT lang, source,
           count(*)      AS n_docs,
           avg(n_chars)  AS avg_chars,
           min(n_chars)  AS min_chars,
           max(n_chars)  AS max_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language/source corpus distribution stats."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("n_chars").alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


@graded(
    "q_quality_filter",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE n_chars BETWEEN 150 AND 400
      AND len(string_split(text, ' ')) >= 20
      AND length(text) = n_chars
    ORDER BY doc_id
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gating: length bounds + token floor + metadata consistency
    (the n_chars == length(text) check is the NOAA-style QC cross-field
    validation pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(
            F.col("n_chars").between(150, 400)
            & (F.size(tokenize(F.col("text"))) >= 20)
            & (F.length("text") == F.col("n_chars"))
        )
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@graded(
    "q_stopword_filter",
    oracle="""
    SELECT w AS word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE w NOT IN ('a','an','and','are','as','at','be','by','for','from',
                    'has','he','in','is','it','its','of','on','that','the',
                    'to','was','were','will','with')
    GROUP BY w
    ORDER BY cnt DESC, word
    LIMIT 20
    """,
)
def q_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal then term frequency."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .filter(~F.col("word").isin(*EN_STOPWORDS))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(20)
    )


@graded(
    "q_ngrams",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    SELECT g AS bigram, count(*) AS cnt
    FROM (
      SELECT unnest(list_transform(t[1:len(t)-1], (x, i) -> x || ' ' || t[i + 1])) AS g
      FROM toks
      WHERE len(t) >= 2
    )
    GROUP BY g
    ORDER BY cnt DESC, bigram
    LIMIT 20
    """,
)
def q_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram (shingle) frequency, top-20."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    return (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(ngrams(toks, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


@graded(
    "q_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, w AS word, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY doc_id, w
    ),
    idf AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.word,
           round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM tf JOIN idf USING (word) CROSS JOIN n
    WHERE tf >= 3
    ORDER BY tf.doc_id, tf.word
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weighting as a 3-stage composition (term freq → doc freq →
    join + log weight). The tf >= 3 filter keeps output bounded.

    Scale: tf and df are both map-side-combinable aggs; the tf⋈idf join
    broadcasts idf when the vocabulary is small (it is here), else
    shuffles on word.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Corpus size as a broadcast 1-row scalar subquery (no driver-side
    # .count() job); final output stays unsorted — it's a per-doc×term
    # table and the graded compare is order-insensitive.
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = tf.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    return (
        tf.join(idf, "word")
        .filter(F.col("tf") >= 3)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


_NGRAM_JACCARD_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_transform(t[1:len(t)-2], (x, i) -> x || ' ' || t[i + 1] || ' ' || t[i + 2])) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 3
    ),
    exploded AS (SELECT doc_id, unnest(grams) AS g FROM toks),
    sizes AS (SELECT doc_id, len(grams) AS n FROM toks),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM exploded a JOIN exploded b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard_sim
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    ORDER BY id_a, id_b
    """


@graded("q_dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard ≥ 0.5, via LOSSLESS
    prefix filtering (the PPJoin/SSJoin principle).

    The r11 100× execution sweep killed the previous all-grams
    inverted-index join with >56 GB of shuffle spill: indexing EVERY
    gram makes the candidate fan-out Σ df², and common grams dominate
    it (replication multiplies every df; templated corpora skew the
    same way — the round-6 Ed-Join degeneracy, now caught in its
    Jaccard sibling). Prefix filtering keeps the result EXACT: order
    all grams globally by (df, gram) rarest-first and index only each
    doc's first ⌊n/2⌋+1 = n − ⌈t·n⌉ + 1 grams; any pair with J ≥ t has
    overlap ≥ ⌈t·max(na,nb)⌉, and two sets with overlap ≥ α must
    collide inside their (n−α+1)-prefixes (pigeonhole on the shared
    suffix), so no qualifying pair is missed. High-df stop-grams land
    at the END of the order and are never indexed — the fan-out now
    tracks RARE-gram df², which is what actually shrinks. Candidates
    verify exactly via array_intersect of the full (distinct) gram
    arrays — same integer intersection as the old count, bit-identical
    jaccard. Both multi-reader frames localCheckpoint (grams feeds the
    df count, the prefix, and the verify; the prefix feeds both join
    sides — the Ed-Join persist lesson).

    Delegates to operators/dedup.ngram_jaccard_pairs UNCAPPED (exact,
    oracle-matched); boilerplate-heavy corpora whose TRUE pair count
    explodes (the 100× replica's ~25M-pair answer OOMs any engine that
    must emit it) should call the operator with candidate_cap_per_doc —
    the documented deliberate-degradation contract (round 12)."""
    from noaa_etl_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5, shingle_n=3)


@graded("q_dedup_ngram_jaccard_capped", oracle=_NGRAM_JACCARD_ORACLE)
def q_dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION gear of q_dedup_ngram_jaccard: same PPJoin prefix
    filtering with candidate_cap_per_doc=64 — the pathological-corpus
    guardrail (operators/dedup.ngram_jaccard_pairs) that bounds the
    verify fan-in and the output to N·cap rows when a boilerplate-heavy
    corpus's true pair count explodes (the 100× replica's ~25M-pair
    answer, SCALING.md round-11). On fixture corpora the cap never
    binds (candidate lists are far below 64), so the result — and this
    query's grade — is the exact answer and the oracle is shared
    verbatim with the uncapped query. This registers driver signal for
    the contract a 100 TB deployment would actually run (VERDICT r12
    item 4)."""
    from noaa_etl_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, threshold=0.5, shingle_n=3, candidate_cap_per_doc=64
    )


@graded(
    "q_repetition_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t, text FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(t[1:len(t)-1], (x, i) -> x || ' ' || t[i + 1])) AS g
      FROM toks WHERE len(t) >= 2
    ),
    gram_counts AS (
      SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY doc_id, g
    ),
    rep AS (
      SELECT doc_id,
             round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_bigram_frac
      FROM gram_counts GROUP BY doc_id
    )
    SELECT d.doc_id,
           r.top_bigram_frac,
           round(CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1 AS DOUBLE), 6) AS n_words,
           round(CAST(length(replace(d.text, ' ', '')) AS DOUBLE)
                 / (length(d.text) - length(replace(d.text, ' ', '')) + 1), 6) AS mean_word_len,
           (r.top_bigram_frac < 0.2) AS keep
    FROM documents d JOIN rep r ON d.doc_id = r.doc_id
    ORDER BY d.doc_id
    """,
)
def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals per document: dominant-
    bigram fraction (high ⇒ boilerplate/spam), word count, mean word
    length, and the keep decision — the LLM-corpus quality-gate shape,
    all relational (explode + two aggregations, no UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    grams = (
        docs.filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(ngrams(toks, 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rep = grams.groupBy("doc_id").agg(
        F.round(F.max("cnt").cast("double") / F.sum("cnt"), 6).alias("top_bigram_frac")
    )
    n_words = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
    ).cast("double")
    char_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
    return (
        docs.join(rep, "doc_id")
        .select(
            "doc_id",
            "top_bigram_frac",
            F.round(n_words, 6).alias("n_words"),
            F.round(char_len / n_words, 6).alias("mean_word_len"),
            (F.col("top_bigram_frac") < 0.2).alias("keep"),
        )
        .orderBy("doc_id")
    )


@graded("q_dedup_minhash_lsh")  # rows-only: LSH banding is not SQL-expressible
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup clusters (keep/drop decision per doc).
    Golden-tested at sf0.001 in tests/test_dedup.py; graded rows-only."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup(docs, threshold=0.5).orderBy("id")


@graded("q_dedup_simhash")  # rows-only: SimHash banding is not SQL-expressible
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs at hamming ≤ 3."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup(docs, max_hamming=3).orderBy("id_a", "id_b")


@graded("q_dedup_ngram_sketch")  # rows-only: minhash estimate is engine state
def q_dedup_ngram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCH gear of the n-gram Jaccard dedup family (VERDICT r14
    item 7c): MinHash banding + signature-agreement estimation, gram
    arrays never re-attached — the gear that survives the
    boilerplate-pathology corpus class where BOTH exact gears die
    (SCALING.md: q_dedup_ngram_jaccard's PPJoin verify OOMs on the
    quadratic true-pair space; the capped gear's candidate DISTINCT is
    hit before ranking). Verify payload is a constant 8·32 bytes/doc.
    Planted-corpus equality/recall tests in tests/test_dedup.py;
    graded rows-only (minhash estimates are engine-defined state,
    SURVEY §3.1)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_sketch_dedup(docs, threshold=0.6)


def _lang_id_oracle() -> str:
    """DuckDB replay of functions/text.lang_id, generated from the SAME
    LANG_MARKERS dict so the marker lists cannot drift between engines.
    The Spark sequential strictly-greater argmax ('improved = hits >
    best_score', iterating sorted(LANG_MARKERS)) is equivalent to: the
    FIRST language in sorted order whose hit count equals the overall
    max, or 'und' when the max is 0 — a later equal score never
    improves, so the earliest max-attainer wins."""
    from noaa_etl_spark.functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    hit_cols = []
    for lang in langs:
        lst = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        hit_cols.append(
            f"len(list_filter(t, x -> list_contains([{lst}], x))) AS h_{lang}"
        )
    m = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    cases = "\n              ".join(
        f"WHEN h_{lang} = {m} THEN '{lang}'" for lang in langs[:-1]
    )
    hits_sql = ",\n             ".join(hit_cols)
    return f"""
    WITH s AS (
      SELECT lang, string_split(lower(text), ' ') AS t FROM documents
    ),
    h AS (
      SELECT lang,
             {hits_sql}
      FROM s
    ),
    p AS (
      SELECT lang,
        CASE WHEN {m} = 0 THEN 'und'
              {cases}
              ELSE '{langs[-1]}' END AS pred_lang
      FROM h
    )
    SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang
    """


@graded("q_lang_id", oracle=_lang_id_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID vs the labeled lang column (confusion
    counts). Deterministic heuristic — oracle-paired since round 13:
    the argmax/tie-break is a fixed integer rule both engines replay
    from the shared LANG_MARKERS source (see _lang_id_oracle).

    r16 opt (guide §4.1 — interpreted HOFs get no subexpression
    elimination): the Column-form ``lang_id`` chains strictly-greater
    WHENs, re-embedding every earlier language's marker-hit subtree in
    each later branch, so one row paid O(L²) HOF passes over the token
    array. Here each language's hit count is projected ONCE as its own
    column (CollapseProject keeps multi-referenced non-cheap aliases),
    and the argmax replays the same rule over cheap column refs:
    greatest() + first-language-attaining-the-max CASE ≡ the chain's
    strictly-greater update order. 3.1 → 0.69 s warm at sf0.1, values
    identical, no new exchange."""
    docs = load_table(spark, sf_dir, "documents")
    langs = sorted(LANG_MARKERS)
    toks = docs.select(
        "lang", tokenize(F.lower(F.col("text"))).alias("_t")
    )
    hits = toks.select(
        "lang",
        *[
            marker_hits(F.col("_t"), LANG_MARKERS[lang]).alias(f"h_{lang}")
            for lang in langs
        ],
    )
    m = F.greatest(*[F.col(f"h_{lang}") for lang in langs])
    pred = F.when(m == F.lit(0), F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(f"h_{lang}") == m, F.lit(lang))
    pred = pred.otherwise(F.lit(langs[-1]))
    return (
        hits.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


def _quality_score_oracle() -> str:
    """DuckDB replay of q_quality_score's score chain, generated from
    the SAME EN_STOPWORDS list. Every term is a token-identical IEEE double
    chain over exact integers (lengths, filter counts), so the 6-dp
    rounds agree bit-for-bit; \\w and \\s are ASCII classes in both Java
    regex and RE2, and fixture text is space-joined words (no \\x0B
    divergence)."""
    from noaa_etl_spark.functions.text import EN_STOPWORDS

    stop_lst = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
    WITH s AS (
      SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
    ),
    c AS (
      SELECT doc_id,
             CAST(len(t) AS DOUBLE) AS n,
             CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
               / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
             CAST(len(list_filter(t, x -> list_contains([{stop_lst}], x))) AS DOUBLE)
               / CAST(greatest(len(t), 1) AS DOUBLE) AS stop_ratio,
             CAST(len(t) AS INT) AS n_tokens
      FROM s
    )
    SELECT doc_id,
           round((least(n / 50.0, 1.0)
                  + (1.0 - least(punct_ratio * 5.0, 1.0))
                  + least(stop_ratio * 4.0, 1.0)) / 3.0, 6) AS quality,
           round(stop_ratio, 6) AS stop_ratio,
           n_tokens
    FROM c ORDER BY doc_id
    """


@graded("q_quality_score", oracle=_quality_score_oracle())
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score + components per doc. Oracle-paired since
    round 13: the score is a fixed IEEE chain over exact integer counts
    (see _quality_score_oracle), replayed from the shared EN_STOPWORDS
    source.

    r16 opt (guide §4.1 — interpreted HOFs get no subexpression
    elimination): the former Column-form quality_score + stopword_ratio
    + size(toks) stack re-ran split() ~7x and the interpreted stop-list
    filter 2x per row. The token array and the integer counts are now
    projected ONCE each; the graded doubles are the SAME IEEE chain
    over the bound columns (binding a subexpression to a column changes
    no arithmetic). 1.14 → 0.58 s warm at sf0.1, values identical, no
    new exchange."""
    docs = load_table(spark, sf_dir, "documents")
    s1 = docs.select("doc_id", "text", tokenize(F.col("text")).alias("_t"))
    s2 = s1.select(
        "doc_id",
        F.size("_t").alias("_n"),
        F.size(F.filter("_t", lambda x: x.isin(*EN_STOPWORDS))).alias(
            "_stop_hits"
        ),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
        ).alias("_punct"),
        F.length("text").alias("_len"),
    )
    n_d = F.col("_n").cast("double")
    stop_ratio = F.col("_stop_hits").cast("double") / F.greatest(
        F.col("_n"), F.lit(1)
    ).cast("double")
    punct_r = F.col("_punct").cast("double") / F.greatest(
        F.col("_len"), F.lit(1)
    ).cast("double")
    length_score = F.least(n_d / F.lit(50.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_r * 5.0, F.lit(1.0))
    stop_score = F.least(stop_ratio * 4.0, F.lit(1.0))
    return s2.select(
        "doc_id",
        F.round((length_score + punct_score + stop_score) / 3.0, 6).alias(
            "quality"
        ),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.col("_n").alias("n_tokens"),
    ).orderBy("doc_id")


_HH_ORACLE = """
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    t AS (SELECT count(*) AS n_total FROM w),
    c AS (SELECT word, count(*) AS n_key FROM w GROUP BY word)
    SELECT c.word, c.n_key, CAST(t.n_total AS BIGINT) AS n_total,
           c.n_key / t.n_total AS freq
    FROM c, t
    WHERE c.n_key >= 0.002 * t.n_total
    ORDER BY c.word
    """


@graded("q_heavy_hitters", oracle=_HH_ORACLE)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent terms: words covering ≥0.2% of all tokens (domain/URL
    frequency capping runs this exact shape). Exact one-groupBy form —
    correct whenever distinct keys fit a shuffle; the scale path is
    q_heavy_hitters_mg."""
    from noaa_etl_spark.operators.heavy_hitters import exact_heavy_hitters

    # spread_small_scan (r15 opt): the operator reads `words` twice
    # (counts + total) and each replan re-ran the tokenize+explode on
    # the single scan task; no-op at real volume where re-scans are the
    # honest posture (never materialize the token stream).
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    words = docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
    return exact_heavy_hitters(words, "word", 0.002).orderBy("word")


@graded("q_heavy_hitters_mg", oracle=_HH_ORACLE)
def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer via the Misra-Gries two-phase path (per-partition
    bounded sketches → candidate superset → exact recount of candidates
    only), sharing the exact form's oracle BECAUSE the recount makes the
    result deterministic — the sketch only bounds what gets recounted.
    100 TB: the wide shuffle carries candidate-key rows only; grouping
    cardinality ≤ partitions × (k+1), not global distinct keys
    (operators/heavy_hitters.py)."""
    from noaa_etl_spark.operators.heavy_hitters import heavy_hitters_mg

    # spread_small_scan (r15 opt): three operator passes (sketch,
    # recount, total) each re-ran the single-task tokenize+explode.
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    words = docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
    return heavy_hitters_mg(words, "word", 0.002).orderBy("word")


CHUNK_DOCUMENTS_ORACLE = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    starts AS (
      SELECT doc_id, t, unnest(range(0, len(t), 48)) AS s FROM toks
    )
    SELECT doc_id,
           CAST(s // 48 AS INT) AS chunk_idx,
           CAST(least(64, len(t) - s) AS INT) AS n_chunk_tokens,
           md5(array_to_string(list_slice(t, s + 1, s + 64), ' ')) AS chunk_sig
    FROM starts
    ORDER BY doc_id, chunk_idx
    """


def chunk_windows(docs: DataFrame, chunk_size: int = 64, stride: int = 48) -> DataFrame:
    """The chunker: one row per ``chunk_size``-token window of each doc,
    starting every ``stride`` tokens (``sequence(0, n-1, stride)``, so
    the tail window may be short but every token is covered). Columns:
    doc_id, chunk_idx, n_chunk_tokens, chunk_text and its md5 chunk_sig;
    callers select what they need and the rest is pruned from the plan.
    """
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), F.size("t") - 1, F.lit(stride))).alias("s"),
    )
    chunk = F.array_join(F.slice("t", F.col("s") + 1, F.lit(chunk_size)), " ")
    return starts.select(
        "doc_id",
        F.expr(f"CAST(s div {stride} AS INT)").alias("chunk_idx"),
        F.least(F.lit(chunk_size), F.size("t") - F.col("s")).alias("n_chunk_tokens"),
        chunk.alias("chunk_text"),
        F.md5(chunk).alias("chunk_sig"),
    )


def chunk_documents_projection(docs: DataFrame) -> DataFrame:
    """The chunker as a pure projection, shared by the batch query and
    its streaming twin (stateless — runs identically on readStream)."""
    return chunk_windows(docs).select("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_sig")


@graded("q_chunk_documents", oracle=CHUNK_DOCUMENTS_ORACLE)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (RAG / context-window prep):
    64-token chunks on a 48-token stride (16-token overlap), one output
    row per chunk with an md5 content signature for downstream
    chunk-level dedup. Chunk starts come from ``sequence(0, n-1, 48)``
    so the tail chunk may be short but every token is covered.

    100 TB: the plan is narrow-only — tokenize, sequence-explode, slice,
    hash are all per-row expressions with NO shuffle anywhere; output
    rows ≈ tokens/stride, so the operator scales linearly and is
    embarrassingly parallel. Chunk text itself is reproducible from
    (doc_id, chunk_idx), so only signatures leave the stage.
    """
    return chunk_documents_projection(load_table(spark, sf_dir, "documents"))


@graded(
    "q_decontaminate",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(t[1:len(t)-2],
               (x, i) -> x || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 37 = 0),
    train AS (SELECT doc_id, g FROM grams WHERE doc_id % 37 <> 0),
    counts AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY doc_id),
    hits AS (
      SELECT doc_id, count(*) AS n_overlap
      FROM train JOIN bench USING (g) GROUP BY doc_id
    )
    SELECT h.doc_id, h.n_overlap, c.n_grams,
           round(CAST(h.n_overlap AS DOUBLE) / c.n_grams, 6) AS overlap_ratio
    FROM hits h JOIN counts c USING (doc_id)
    ORDER BY h.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    3-grams with a held-out benchmark set (docs with doc_id % 37 == 0
    stand in for the benchmark corpus). Output = per contaminated doc:
    overlapping distinct 3-grams, its total distinct 3-grams, and the
    overlap ratio. Short n-grams are the recall-leaning choice real
    decontamination pipelines make (catch paraphrases, filter later).

    100 TB: per-doc ``array_distinct`` runs BEFORE the explode, so the
    train side needs no distinct shuffle at all — (doc_id, gram) pairs
    are already unique within a row's output. The benchmark gram set is
    genuinely small at any scale (benchmarks are MBs against a 100 TB
    corpus), so it is broadcast and the fact side never shuffles on the
    gram key; the two per-doc counts are map-side-combinable groupBys.
    """
    # spread_small_scan (r15 opt): the gram stream is read three times
    # (bench set, per-doc counts, hit counts) and each replan re-ran the
    # tokenize+ngrams+explode on the single scan task; the spread keeps
    # the re-scans (the honest 100 TB posture — never materialize the
    # token stream) but runs them at executor parallelism.
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t")).filter(
        F.size("t") >= 3
    )
    grams = toks.select(
        "doc_id",
        F.explode(F.array_distinct(ngrams(F.col("t"), 3))).alias("g"),
    )
    bench = grams.filter(F.col("doc_id") % 37 == 0).select("g").distinct()
    train = grams.filter(F.col("doc_id") % 37 != 0)
    counts = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return hits.join(counts, "doc_id").select(
        "doc_id",
        "n_overlap",
        "n_grams",
        F.round(F.col("n_overlap").cast("double") / F.col("n_grams"), 6).alias(
            "overlap_ratio"
        ),
    )


# PII patterns shared by the Spark and oracle sides; written in the
# common subset of Java regex and RE2 (no backrefs, no lookaround) so
# both engines match identical spans.
_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_PHONE = r"\b555-[0-9]{4}\b"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(text: Column) -> Column:
    """Redact emails, then phone numbers, then IPv4 addresses in
    ``text``."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )


def pii_scrub_projection(docs: DataFrame) -> DataFrame:
    """The scrub pass as a pure projection, shared verbatim by the batch
    query and its streaming twin (stateless transforms run identically
    on readStream — that equality is what makes the twin oracle-pairable).
    """
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("t"),
    )
    return synth.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_EMAIL), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_PHONE), F.lit(0))).alias(
            "n_phones"
        ),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_IP), F.lit(0))).alias(
            "n_ips"
        ),
        F.md5(pii_scrub(F.col("t"))).alias("scrubbed_sig"),
    )


PII_SCRUB_ORACLE = f"""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS INT)    AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g')) AS scrubbed_sig
    FROM synth
    """


@graded("q_pii_scrub", oracle=PII_SCRUB_ORACLE)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count and scrub emails, phone numbers, and
    IPv4 addresses with shared Java/RE2-subset regexes; emit per-doc
    redaction counts and an md5 signature of the scrubbed text. The
    fixture corpus contains no PII, so each doc is deterministically
    salted with synthetic PII derived from its doc_id (identically in
    the oracle) — the redaction itself is what is graded.

    100 TB: expression-only (regexp_extract_all / regexp_replace are
    JVM-side, inside codegen) with zero shuffles; this is the shape of
    every real scrub pass — linear scan, no state, no Python.
    """
    return pii_scrub_projection(load_table(spark, sf_dir, "documents"))


@graded(
    "q_chunk_dedup",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    starts AS (
      SELECT doc_id, t, unnest(range(0, len(t), 48)) AS s FROM toks
    ),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(t, s + 1, s + 64), ' ')) AS chunk_sig
      FROM starts
    )
    SELECT chunk_sig,
           min(doc_id) AS kept_doc_id,
           count(*)    AS n_copies
    FROM chunks
    GROUP BY chunk_sig
    HAVING count(*) > 1
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: chunk every doc (the q_chunk_documents
    64/48 windows), then collapse identical chunks across the corpus —
    the boilerplate/repeated-passage removal stage that document-level
    dedup cannot express (two distinct docs sharing a header dedup at
    chunk granularity only). Survivor = min doc_id per signature;
    output lists only duplicated chunks.

    100 TB: the chunk stage is the narrow-only q_chunk_documents plan;
    the collapse shuffles 16-byte signatures (never chunk text) into a
    map-side-combinable groupBy — the same contract as q_dedup_hash,
    at chunk granularity.
    """
    chunks = chunk_windows(load_table(spark, sf_dir, "documents"))
    return (
        chunks.groupBy("chunk_sig")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@graded(
    "q_dedup_survivor_policy",
    oracle="""
    SELECT arg_max(doc_id, n_chars * 8589934592 - doc_id) AS kept_doc_id,
           CAST(max(n_chars) AS BIGINT)                   AS kept_n_chars,
           count(*)                                       AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_survivor_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup with a QUALITY-AWARE survivor policy: per duplicate group
    keep the highest-quality copy (longest here; any scored column in
    practice), tie-broken to the smallest doc_id — real pipelines keep
    the best-rendered duplicate, not an arbitrary or min-id one, and
    the policy must be deterministic under retries/speculation, which
    raw first()/dropDuplicates is not. max_by over the composite key
    (quality major, -doc_id minor — encoded as one bigint because
    DuckDB's arg_max takes scalar keys only) is the deterministic form
    of that policy.

    Encoding contract: key = n_chars * 2^33 - doc_id on BIGINT, valid
    while doc_id < 2^33 (~8.6e9 docs) and n_chars < 2^30 — within those
    bounds the quality term strictly dominates the tie-break term, so
    ordering is (n_chars DESC, doc_id ASC) exactly. Overflow headroom:
    2^30 * 2^33 = 2^63 fits bigint only as an upper bound, so practical
    n_chars (document lengths, << 2^30) stay far inside range.

    100 TB: same single hash shuffle as q_dedup_hash (16-byte keys,
    never text); max_by is algebraic — partial-aggregates combine
    map-side, so the policy costs nothing over min-id."""
    docs = load_table(spark, sf_dir, "documents")
    policy_key = F.col("n_chars").cast("long") * F.lit(2**33) - F.col("doc_id")
    return (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(
            F.max_by("doc_id", policy_key).alias("kept_doc_id"),
            F.max("n_chars").alias("kept_n_chars"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("kept_doc_id", "kept_n_chars", "n_copies")
    )


# ---------------------------------------------------------------------------
# Rule-based quality gating (Gopher-style) and repetition filtering
# ---------------------------------------------------------------------------

# Small closed stopword probe set shared with the oracle (subset of
# EN_STOPWORDS; rule semantics need a FIXED list both engines agree on).
_GATE_STOPWORDS = ["a", "an", "the", "of", "to", "and", "is", "in", "it", "that"]

QUALITY_GATE_ORACLE = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS cs,
             len(list_intersect(list_distinct(toks),
                 ['a','an','the','of','to','and','is','in','it','that'])) AS n_stop
      FROM t
    )
    SELECT doc_id,
           n AS n_tokens,
           n BETWEEN 20 AND 80                        AS r_len,
           cs * 10 BETWEEN n * 40 AND n * 48          AS r_word_len,
           n_stop >= 2                                AS r_stop,
           (n BETWEEN 20 AND 80)
             AND (cs * 10 BETWEEN n * 40 AND n * 48)
             AND (n_stop >= 2)                        AS keep
    FROM s
    """


def quality_rules(text_col: str = "text"):
    """The gate's rule Columns, shared by the graded projections AND the
    corpus pipeline's filter stage (a scan-local predicate — reusing the
    Columns avoids a join-back of the per-doc gate at 100 TB):

    - r_len:      20 <= token count <= 80
    - r_word_len: mean word length in [4.0, 4.8] — evaluated as the
      INTEGER inequality 40*n <= 10*char_sum <= 48*n so both engines
      compare exact integers (no float accumulation at all)
    - r_stop:     at least 2 distinct probe stopwords present

    All three rules are array-expression-only (no explode, no shuffle,
    no Python): whole-stage-codegen'd per row. Returns
    (n_tokens, {rule_name: Column}).
    """
    toks = tokenize(F.col(text_col))
    n = F.size(toks).cast("long")
    cs = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(s) for s in _GATE_STOPWORDS])
        )
    )
    rules = {
        "r_len": n.between(20, 80),
        "r_word_len": (cs * 10 >= n * 40) & (cs * 10 <= n * 48),
        "r_stop": n_stop >= 2,
    }
    return n, rules


def quality_keep(text_col: str = "text"):
    """Conjunction of every gate rule as one Column (the pipeline's
    filter predicate)."""
    _, rules = quality_rules(text_col)
    out = None
    for c in rules.values():
        out = c if out is None else (out & c)
    return out


def quality_gate_projection(docs: DataFrame) -> DataFrame:
    """Per-document rule-based quality gate (Gopher-style heuristics
    adapted to the fixture corpus) as a pure projection, shared verbatim
    by the batch query and its stateless streaming twin (rule
    definitions in :func:`quality_rules`)."""
    n, rules = quality_rules()
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        rules["r_len"].alias("r_len"),
        rules["r_word_len"].alias("r_word_len"),
        rules["r_stop"].alias("r_stop"),
        (rules["r_len"] & rules["r_word_len"] & rules["r_stop"]).alias("keep"),
    )


@graded("q_quality_gate", oracle=QUALITY_GATE_ORACLE)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document quality gate (Gopher-style): per-doc booleans
    for each named rule plus the conjunction. Emitting the per-rule
    booleans (not just the survivors) is the production form — corpus
    curation wants per-rule drop attribution before committing to a
    threshold set.

    100 TB: zero-shuffle linear scan; the word-length rule is integer
    arithmetic end-to-end so the gate is bit-reproducible across
    engines, partitionings, and hardware (no float accumulation).
    """
    return quality_gate_projection(load_table(spark, sf_dir, "documents"))


@graded(
    "q_gopher_quality",
    oracle="""
    WITH t AS (
      SELECT source, string_split(text, ' ') AS toks FROM documents
    ), s AS (
      SELECT source,
             CAST(len(toks) AS BIGINT) AS n,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS cs,
             len(list_intersect(list_distinct(toks),
                 ['a','an','the','of','to','and','is','in','it','that'])) AS n_stop
      FROM t
    ), r AS (
      SELECT source,
             n BETWEEN 20 AND 80               AS r_len,
             cs * 10 BETWEEN n * 40 AND n * 48 AS r_word_len,
             n_stop >= 2                       AS r_stop
      FROM s
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                                   AS n_docs,
           CAST(sum(CASE WHEN r_len AND r_word_len AND r_stop
                         THEN 1 ELSE 0 END) AS BIGINT)                AS n_pass,
           CAST(sum(CASE WHEN NOT r_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
           CAST(sum(CASE WHEN NOT r_word_len THEN 1 ELSE 0 END) AS BIGINT)
                                                                      AS fail_word_len,
           CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop
    FROM r
    GROUP BY source
    ORDER BY source
    """,
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-rule attribution report: how many documents
    each Gopher-style rule would drop, per corpus source — the view a
    curation run reads before picking thresholds (rule costs are not
    independent; attribution per source finds the corpus whose crawl is
    broken rather than globally tightening a rule).

    100 TB: the gate is scan-local; the only shuffle is the tiny
    per-source count agg (|sources| rows), map-side combinable.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The rules ride the same scan as source: recompute inline rather
    # than joining the per-doc gate back (zero-shuffle pre-agg).
    _, rules = quality_rules()
    r_len, r_word_len, r_stop = (
        rules["r_len"], rules["r_word_len"], rules["r_stop"]
    )
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return (
        docs.select(
            "source",
            r_len.alias("r_len"),
            r_word_len.alias("r_word_len"),
            r_stop.alias("r_stop"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("r_len") & F.col("r_word_len") & F.col("r_stop"), one)
                .otherwise(zero)
            ).alias("n_pass"),
            F.sum(F.when(~F.col("r_len"), one).otherwise(zero)).alias("fail_len"),
            F.sum(F.when(~F.col("r_word_len"), one).otherwise(zero)).alias(
                "fail_word_len"
            ),
            F.sum(F.when(~F.col("r_stop"), one).otherwise(zero)).alias("fail_stop"),
        )
        .orderBy("source")
    )


@graded(
    "q_repetition_filter",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), wc AS (
      SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY doc_id, word
    ), wm AS (
      SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_word_cnt,
             CAST(sum(cnt) AS BIGINT) AS n_tokens
      FROM wc GROUP BY doc_id
    ), t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), b AS (
      SELECT doc_id,
             unnest(list_transform(toks[1:len(toks)-1],
                                   (x, i) -> x || ' ' || toks[i + 1])) AS bg
      FROM t WHERE len(toks) >= 2
    ), bc AS (
      SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY doc_id, bg
    ), bm AS (
      SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bigram_cnt,
             CAST(sum(cnt) AS BIGINT) AS n_bigrams
      FROM bc GROUP BY doc_id
    )
    SELECT wm.doc_id, wm.n_tokens, wm.top_word_cnt, bm.top_bigram_cnt,
           (wm.top_word_cnt * 8 <= wm.n_tokens)
             AND (bm.top_bigram_cnt * 16 <= bm.n_bigrams) AS keep
    FROM wm JOIN bm ON wm.doc_id = bm.doc_id
    """,
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (Gopher's "repetitive content"
    family): drop documents whose most frequent word exceeds 1/8 of all
    tokens or whose most frequent bigram exceeds 1/16 of all bigrams.
    Thresholds are evaluated as integer inequalities (cnt*8 <= n), so
    the keep decision is exact on both engines — no float ratios.

    100 TB: explode + two-level groupBy is the scale-robust form — the
    per-(doc, term) count is map-side combinable, keys are (8-byte id,
    short term), and the final doc-grain join is co-partitioned (both
    sides hash-partitioned on doc_id by their aggregates, so AQE plans
    no extra exchange). The expression-only alternative (array_max over
    transform(array_distinct)) is O(n * distinct) per row — quadratic
    on pathological documents, which repetition filtering specifically
    targets, so the shuffle form is the right one here.
    """
    return repetition_report(load_table(spark, sf_dir, "documents"))


def repetition_report(docs: DataFrame) -> DataFrame:
    """The repetition filter as a reusable report (q_repetition_filter's
    body; the corpus pipeline semi-joins on its keep column)."""
    toks = tokenize(F.col("text"))

    words = docs.select("doc_id", F.explode(toks).alias("word"))
    wm = (
        words.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").alias("top_word_cnt"),
            F.sum("cnt").alias("n_tokens"),
        )
    )
    bigrams = docs.filter(F.size(toks) >= 2).select(
        "doc_id", F.explode(ngrams(toks, 2)).alias("bg")
    )
    bm = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").alias("top_bigram_cnt"),
            F.sum("cnt").alias("n_bigrams"),
        )
    )
    return wm.join(bm, "doc_id").select(
        "doc_id",
        "n_tokens",
        "top_word_cnt",
        "top_bigram_cnt",
        (
            (F.col("top_word_cnt") * 8 <= F.col("n_tokens"))
            & (F.col("top_bigram_cnt") * 16 <= F.col("n_bigrams"))
        ).alias("keep"),
    )


@graded(
    "q_fuzzy_name_match",
    oracle="""
    WITH n AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM n a JOIN n b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY name_a, name_b
    """,
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part-name catalog: every pair of
    distinct names within 2 edit operations ("cold bolt" ↔ "old bolt",
    "old rod" ↔ "red rod") — the fuzzy-key matching step of any
    master-data/catalog dedup.

    EXACT despite blocking: the positional q-gram count filter
    (operators/fuzzy.py) is a necessary condition for edit distance
    ≤ d, so candidates are a superset and the levenshtein verify
    reproduces the brute-force cross join bit-for-bit (equality with
    the cross join asserted in tests; the DuckDB oracle IS the cross
    join). 100 TB: gram explode is narrow, candidate join is an
    equi-join on gram bounded by per-gram occupancy — never |N|² pairs.
    """
    from noaa_etl_spark.operators.fuzzy import fuzzy_self_join

    part = load_table(spark, sf_dir, "part")
    return fuzzy_self_join(part, "p_name", max_dist=2).orderBy("name_a", "name_b")


@graded(
    "q_fuzzy_match_q3",
    oracle="""
    WITH n AS (SELECT DISTINCT p_name || ' ' || p_brand AS k FROM part)
    SELECT a.k AS name_a, b.k AS name_b,
           CAST(levenshtein(a.k, b.k) AS INT) AS dist
    FROM n a JOIN n b ON a.k < b.k
    WHERE levenshtein(a.k, b.k) <= 2
    ORDER BY name_a, name_b
    """,
)
def q_fuzzy_match_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram (q=3) twin of the fuzzy matcher over the composite
    (name, brand) entity key — the q-gram order that survives LARGE
    catalogs: the gram universe is alphabet^q, so bigram prefixes
    saturate as N grows while trigrams cube the universe and keep
    rare-gram occupancy bounded (measured 1.3× faster at 50k keys and
    widening — SCALING.md). Cost of q=3 is the length contract
    (len ≥ (q−1)+d·q+1 = 9): plain part names are 7 chars, the
    composite key is ≥ 17 — exactly the real-world trade (fuzzy-match
    composite entity keys at scale, single short fields only at
    bounded N).
    """
    from noaa_etl_spark.operators.fuzzy import fuzzy_self_join

    part = load_table(spark, sf_dir, "part")
    keyed = part.select(
        F.concat(F.col("p_name"), F.lit(" "), F.col("p_brand")).alias("k")
    )
    return fuzzy_self_join(keyed, "k", max_dist=2, q=3).orderBy(
        "name_a", "name_b"
    )


CMS_FREQUENCIES_ORACLE = """
    SELECT l_partkey,
           cnt  AS true_cnt,
           TRUE AS lower_ok,
           TRUE AS upper_ok
    FROM (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
          FROM lineitem GROUP BY l_partkey
          ORDER BY cnt DESC, l_partkey LIMIT 20)
    ORDER BY l_partkey
"""

CMS_DEPTH, CMS_WIDTH = 4, 1024


def cms_bound_report(spark: SparkSession, sf_dir: str, cells) -> DataFrame:
    """Shared report leg of the CMS twins: given the (d, bucket, cnt)
    grid — built in one batch pass OR merged from per-micro-batch grids
    (cells are additive, so both grids are IDENTICAL and the twins
    share one oracle) — grade the two CMS bounds for the 20 most
    frequent part keys. `cells` must be persisted+materialized by the
    caller (it feeds both the estimate join and cms_total)."""
    from noaa_etl_spark.operators.cms import cms_estimate, cms_total

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    true_cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    top20 = true_cnt.orderBy(F.desc("cnt"), F.asc("l_partkey")).limit(20).persist()
    top20.count()
    est = cms_estimate(cells, top20, "l_partkey", depth=CMS_DEPTH, width=CMS_WIDTH)
    margin = F.ceil(F.lit(4 * 2.718281828459045) * F.col("n_total") / F.lit(CMS_WIDTH))
    return (
        top20.join(est, "l_partkey")
        .crossJoin(F.broadcast(cms_total(cells)))
        .select(
            "l_partkey",
            F.col("cnt").alias("true_cnt"),
            (F.col("est") >= F.col("cnt")).alias("lower_ok"),
            (F.col("est") <= F.col("cnt") + margin).alias("upper_ok"),
        )
        .orderBy("l_partkey")
    )


@graded("q_cms_frequencies", oracle=CMS_FREQUENCIES_ORACLE)
def q_cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency estimation (operators/cms.py),
    graded in PROPERTY form: for the 20 most frequent part keys, emit
    the exact count plus the two CMS guarantees as booleans —
    lower_ok (est ≥ true: structural, collisions only over-count) and
    upper_ok (est ≤ true + 4e·N/w: Markov per hash row gives per-key
    failure ≤ (1/4e)^d ≈ 7e-5 at d=4, deterministic for a fixed fixture
    and hash seeds). The oracle states both hold; a broken sketch (or a
    bound regression on a regenerated fixture) grades as a mismatch.
    The tight e·N/w bound and exact grid mergeability are unit-tested
    (tests/test_algorithms.py).

    100 TB: the grid build shuffles ≤ d·w partial cells per partition
    (map-side combine) — a fixed-size mergeable summary like the HLL
    sketch table; estimates broadcast-join the KB-sized grid. The exact
    per-key counts exist here only to grade the bound — production
    point queries touch the grid alone, never the corpus.
    """
    from noaa_etl_spark.operators.cms import cms_build

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    # persist + eager materialize (SCALING.md rule): the grid feeds both
    # the estimate join and cms_total, and top20 feeds both the probe
    # side and the final report join — un-persisted, each consumer
    # re-plans its subtree and the fact is scanned four times instead
    # of twice. Both frames are tiny (d·w cells / 20 rows).
    cells = cms_build(li, "l_partkey", depth=CMS_DEPTH, width=CMS_WIDTH).persist()
    cells.count()
    return cms_bound_report(spark, sf_dir, cells)


@graded(
    "q_perplexity_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         w -> w <> '') AS ws
      FROM documents
    ),
    toks2 AS (SELECT * FROM toks WHERE len(ws) >= 2),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS bg
      FROM toks2
    ),
    uni AS (SELECT unnest(ws) AS w FROM toks),
    ucnt AS (SELECT w, count(*) AS cu FROM uni GROUP BY w),
    vocab AS (SELECT count(DISTINCT w) AS v FROM uni),
    bcnt AS (SELECT bg, count(*) AS cb FROM big GROUP BY bg),
    scored AS (
      SELECT b.doc_id, ln((bc.cb + 1) / (uc.cu + vocab.v)) AS logp
      FROM big b
      JOIN bcnt bc USING (bg)
      JOIN ucnt uc ON uc.w = split_part(b.bg, ' ', 1)
      CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-(sum(logp ORDER BY logp)) / count(*), 9) AS avg_nll,
           round(-(sum(logp ORDER BY logp)) / count(*), 9) <= 3.45 AS kept
    FROM scored
    GROUP BY doc_id
    """,
)
def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-based quality filtering: train an add-one-smoothed
    bigram language model on the corpus itself, score every document by
    average negative log-likelihood, and flag the high-perplexity tail
    for drop — the classic KenLM-style quality gate of LLM data
    pipelines, self-trained so no external model is needed.

    p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V). All model inputs are BIGINT
    counts, so the double ratio and its ln() are bit-identical
    cross-engine; the per-doc log-prob sum is accumulated in ascending
    order on BOTH engines (a JVM sort_array + sequential aggregate fold
    mirrors DuckDB's `sum(logp ORDER BY logp)` — r16 opt, replacing the
    grouped-agg pandas UDF with the same add chain) so even the float
    aggregate hashes exact — the same contract as q_udaf_trimmed_mean.
    Docs with <2 tokens have no bigrams and are (deliberately) absent
    from the output.

    100 TB: bigram extraction is scan-local array math (transform over
    sequence — no self-join on positions); the model is two
    map-side-combinable counts; scoring is two equi-joins on token keys
    (Zipf skew → AQE skew-split; the vocab scalar rides a broadcast).
    The per-doc regroup is one shuffle on doc_id.
    """
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    ws = F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    # r15 opt — multi-reader checkpoints: toks feeds the bigram AND
    # unigram paths, bigrams feeds the model count AND the scoring
    # join, ucnt feeds the vocab scalar AND the scoring join;
    # un-materialized, every reader replanned the scan+regex-split
    # subtree (6 scans of the corpus for one model build).
    toks = docs.select("doc_id", ws.alias("ws")).localCheckpoint(eager=True)
    toks2 = toks.filter(F.size("ws") >= 2)
    bigrams = toks2.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("bg"),
    ).localCheckpoint(eager=True)
    uni = toks.select(F.explode("ws").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cu")).localCheckpoint(
        eager=True
    )
    # |vocab| = the model table's own row count (ucnt is already the
    # distinct-word relation) — never a second countDistinct scan.
    vocab = ucnt.agg(F.count(F.lit(1)).alias("v"))
    bcnt = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        bigrams.join(bcnt, "bg")
        .join(ucnt, F.split(F.col("bg"), " ").getItem(0) == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log((F.col("cb") + 1) / (F.col("cu") + F.col("v"))).alias("logp"),
        )
    )
    # r16 opt (guide §4.1 — prefer built-ins over the Python boundary):
    # the ordered per-doc fold runs in the JVM as
    # aggregate(sort_array(collect_list(logp)), 0.0, a + x) — the SAME
    # sequential ascending add chain as DuckDB's sum(logp ORDER BY
    # logp), so logp_sum stays bit-identical (verified: zero differing
    # doubles across all sf0.1 docs vs the grouped-agg pandas UDF this
    # replaces). The pandas form shipped every (doc_id, logp) row
    # through Arrow and looped per group in Python: 3.6 s vs 1.2 s warm
    # for this stage at sf0.1. collect_list partials combine map-side;
    # per-doc arrays are ~hundreds of doubles (bounded by doc length),
    # never a memory hazard.
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.aggregate(
            F.sort_array(F.collect_list("logp")), F.lit(0.0), lambda a, x: a + x
        ).alias("logp_sum"),
    )
    # Graded at 9-decimal precision: the raw avg_nll's exactness contract
    # rests on Java Math.log and DuckDB std::log agreeing bit-for-bit on
    # every (cb+1)/(cu+v) ratio — both are ~1-ulp but not correctly
    # rounded, so a regenerated corpus could produce a 1-ulp divergence.
    # Rounding to 9 decimals shrinks the failure window from "any ulp
    # disagreement in any ln()" to "raw values straddle a 1e-9 grid
    # boundary" (~4e-7 per doc per ulp-event); `kept` compares the SAME
    # rounded value on both engines so the 3.45 boundary inherits the
    # contract.
    avg_nll = F.round(-F.col("logp_sum") / F.col("n_bigrams"), 9)
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        avg_nll.alias("avg_nll"),
        (avg_nll <= F.lit(3.45)).alias("kept"),
    )


@graded("q_bpe_train")  # rows-only: iterative argmax loop, not SQL-expressible
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 24 BPE tokenizer merges on the documents corpus
    word-frequency dictionary (operators/bpe.py — driver-coordinated
    rounds; each round is one map-side-combinable pair count + a top-1
    collect + a scan-local aggregate() rewrite). Deterministic for a
    given corpus under any partitioning: exact BIGINT pair counts with
    a total (count desc, left asc, right asc) tie-break. Golden-tested
    on a hand-computable corpus in tests/test_algorithms.py."""
    from noaa_etl_spark.operators.bpe import bpe_merges_df

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda t: t != "",
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return bpe_merges_df(spark, words, n_merges=24)


@graded("q_bpe_tokenize")  # rows-only: tokens depend on the trained merge table
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-encode: apply the 24 learned BPE merges back to the
    corpus (operators/bpe.py encode path — merge table rides the Arrow
    UDF closure, per-batch word memoization) and report per-doc word /
    BPE-token / distinct-token counts plus the corpus-level compression
    the merges bought. Golden-tested end-to-end (tests/
    test_algorithms.py asserts exact token sequences on the textbook
    corpus).

    100 TB: encoding is scan-local (the merge table is KBs); the only
    shuffle is the final per-doc report agg — and even that vanishes if
    the consumer wants the tokenized column rather than the report."""
    from noaa_etl_spark.operators.bpe import bpe_encode_udf, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    words = (
        docs.select(F.explode(ws).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merges = train_bpe(words, n_merges=24)
    encode = bpe_encode_udf(merges)
    toks = docs.select("doc_id", ws.alias("ws")).select(
        "doc_id",
        F.size("ws").alias("n_words"),
        encode(F.col("ws")).alias("bpe"),
    )
    return toks.select(
        "doc_id",
        "n_words",
        F.size("bpe").alias("n_tokens"),
        F.size(F.array_distinct("bpe")).alias("n_distinct_tokens"),
    )


BM25_TERMS = ("hash", "join", "scan", "vector")
# k1=1.2, b=0.75 appear as inline literals in BOTH the Spark expression
# and the oracle SQL — the float contract requires the literal text to
# match, so there is deliberately no shared Python constant.


def _tf_term(t: str):
    """Factory for the term-equality lambda (never a default-arg closure
    — the HOF arity pitfall in CLAUDE.md)."""

    def eq(x):
        return x == F.lit(t)

    return eq


# The BM25 oracle CTE block (tokenize → per-doc tf/dl → one-row corpus
# stats), shared verbatim by q_bm25_rank and q_rrf_fusion so both grades
# run the IDENTICAL double expression.
BM25_ORACLE_CTES = """toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         w -> w <> '') AS ws
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS dl,
             CAST(len(list_filter(ws, x -> x = 'hash'))   AS BIGINT) AS tf_hash,
             CAST(len(list_filter(ws, x -> x = 'join'))   AS BIGINT) AS tf_join,
             CAST(len(list_filter(ws, x -> x = 'scan'))   AS BIGINT) AS tf_scan,
             CAST(len(list_filter(ws, x -> x = 'vector')) AS BIGINT) AS tf_vector
      FROM toks
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS BIGINT) AS sdl,
             CAST(sum(CASE WHEN tf_hash   > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_hash,
             CAST(sum(CASE WHEN tf_join   > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join,
             CAST(sum(CASE WHEN tf_scan   > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_scan,
             CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector
      FROM per_doc
    )"""

BM25_ORACLE_SCORE = """round(
               ln(1 + (n - df_hash + 0.5) / (df_hash + 0.5))
                 * (CAST(tf_hash AS DOUBLE) * 2.2)
                 / (tf_hash + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / n))))
             + ln(1 + (n - df_join + 0.5) / (df_join + 0.5))
                 * (CAST(tf_join AS DOUBLE) * 2.2)
                 / (tf_join + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / n))))
             + ln(1 + (n - df_scan + 0.5) / (df_scan + 0.5))
                 * (CAST(tf_scan AS DOUBLE) * 2.2)
                 / (tf_scan + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / n))))
             + ln(1 + (n - df_vector + 0.5) / (df_vector + 0.5))
                 * (CAST(tf_vector AS DOUBLE) * 2.2)
                 / (tf_vector + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / n))))
           , 9)"""

BM25_ORACLE_MATCHED = "tf_hash > 0 OR tf_join > 0 OR tf_scan > 0 OR tf_vector > 0"


def bm25_matched(docs: DataFrame) -> DataFrame:
    """Per-document BM25 frame (doc_id, dl, tf_total, score) for every
    document matching ≥1 query term — the engine half of the
    q_bm25_rank contract, factored out so q_rrf_fusion reuses the
    identical expression (scale design in the q_bm25_rank docstring)."""
    ws = F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    per_doc = docs.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("dl"),
        *[
            F.size(F.filter(ws, _tf_term(t))).cast("bigint").alias(f"tf_{t}")
            for t in BM25_TERMS
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("int")).cast("bigint").alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    avgdl = F.col("sdl").cast("double") / F.col("n")
    norm = F.lit(1.2) * (
        F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * (F.col("dl").cast("double") / avgdl)
    )

    def term_score(t: str):
        tf, df = F.col(f"tf_{t}"), F.col(f"df_{t}")
        idf = F.log(F.lit(1) + (F.col("n") - df + F.lit(0.5)) / (df + F.lit(0.5)))
        return idf * (tf.cast("double") * F.lit(2.2)) / (tf + norm)

    score = term_score(BM25_TERMS[0])
    for t in BM25_TERMS[1:]:
        score = score + term_score(t)
    matched = F.col(f"tf_{BM25_TERMS[0]}") > 0
    for t in BM25_TERMS[1:]:
        matched = matched | (F.col(f"tf_{t}") > 0)
    tf_total = F.col(f"tf_{BM25_TERMS[0]}")
    for t in BM25_TERMS[1:]:
        tf_total = tf_total + F.col(f"tf_{t}")
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(matched)
        .select(
            "doc_id", "dl", tf_total.alias("tf_total"), F.round(score, 9).alias("score")
        )
    )


@graded(
    "q_bm25_rank",
    oracle=f"""
    WITH {BM25_ORACLE_CTES}
    SELECT doc_id,
           dl,
           tf_hash + tf_join + tf_scan + tf_vector AS tf_total,
           {BM25_ORACLE_SCORE} AS score
    FROM per_doc CROSS JOIN stats
    WHERE {BM25_ORACLE_MATCHED}
    """,
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring of every document against a fixed query
    term set — the retrieval scorer between plain tf-idf (q_tfidf) and
    the embedding ANN stack (q_doc_similarity): Robertson's idf
    ln(1 + (N−df+0.5)/(df+0.5)) with k1=1.2, b=0.75 length
    normalization (the Lucene/Okapi defaults).

    Scale design: per-term tf is SCAN-LOCAL array math
    (size(filter(ws, x = t)) per query term — no explode, so corpus
    tokens never enter a shuffle; query terms are columns, not rows).
    The corpus statistics (N, Σdl, per-term df) are ONE map-side-
    combinable agg producing a single row that rides a broadcast
    cross-join back onto the per-doc frame — at 100 TB the data-
    proportional cost is exactly two columnar scans of (doc_id, text)
    and zero data shuffles. The idf/tf expression is one fixed double
    chain over BIGINT inputs, summed in fixed term order, graded at 9
    decimals (the ln() 1-ulp contract of q_perplexity_filter).
    """
    return bm25_matched(load_table(spark, sf_dir, "documents"))


@graded(
    "q_feature_hashing",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                w -> w <> '')) AS w
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(hx, 1, 8) AS UBIGINT) % 64
                  AS BIGINT) AS bucket,
             CASE WHEN CAST('0x' || substr(hx, 9, 1) AS UBIGINT) < 8
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT doc_id, md5('fh:' || w) AS hx FROM toks)
    )
    SELECT doc_id, bucket,
           CAST(sum(s) AS BIGINT)   AS weight,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM h GROUP BY doc_id, bucket
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (the Weinberger et al. hashing trick):
    project each document's token stream into a fixed 64-bucket sparse
    vector — bucket = md5-derived hash mod 64, sign = an independent
    md5 bit so collisions cancel in expectation — emitted in COO form
    (doc_id, bucket, weight). The ML-prep step that turns unbounded
    vocabularies into fixed-width model inputs without a vocabulary
    table, trained-state-free and identical across engines, reruns and
    cluster sizes (both hash and sign are pure functions of the token).

    100 TB: bucketing is scan-local string math; the only shuffle is
    the (doc_id, bucket)-grain combinable sum — output is bounded by
    docs × 64, never tokens. No vocabulary build, no second pass, no
    driver state (the architectural contrast to q_bpe_train's
    vocab-capped trainer is deliberate).
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    # ONE md5 per token instance: hex chars 1-8 are the bucket, char 9
    # the independent sign bit (distinct digest bits ⇒ independent in
    # the hashing-trick sense; halves the hash cost, which dominates
    # the 10× scaling — SCALING.md round 7).
    toks = docs.select("doc_id", F.explode(ws).alias("w")).select(
        "doc_id", F.md5(F.concat(F.lit("fh:"), F.col("w"))).alias("hx")
    )
    bucket = F.pmod(
        F.conv(F.substring(F.col("hx"), 1, 8), 16, 10).cast("bigint"), F.lit(64)
    )
    sign = F.when(
        F.conv(F.substring(F.col("hx"), 9, 1), 16, 10).cast("int") < 8, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        toks.select("doc_id", bucket.alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.sum("s").cast("bigint").alias("weight"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )


@graded("q_tokenizer_fertility")  # rows-only: depends on the trained merge table
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit: train the BPE merges on ONE md5-gated
    half of the corpus, encode the HELD-OUT half, and report per source
    the fertility (BPE tokens per word — the cost of every downstream
    training token). The
    out-of-domain-tokenizer health check every multilingual/multi-source
    pipeline runs before committing a vocab — train/apply splits
    mirror q_ann_index_update's calibration-split lesson (in-sample
    fertility is biased low).

    Exact integer counts throughout; the two ratios are single double
    divisions of BIGINTs (deterministic, though the query stays
    rows-only because the merge table itself is engine-trained).

    100 TB: training reads the word dict (operators/bpe.py vocab-cap
    architecture); encoding is scan-local Arrow with per-batch
    memoization; the report is one |sources|-row combinable agg."""
    from noaa_etl_spark.operators.bpe import bpe_encode_udf, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    gate = F.substring(
        F.md5(F.concat(F.lit("tf:"), F.col("doc_id").cast("string"))), 1, 1
    )
    train_docs = docs.filter(gate < "8")
    heldout = docs.filter(gate >= "8")

    ws = F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    words = (
        train_docs.select(F.explode(ws).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merges = train_bpe(words, n_merges=24)
    encode = bpe_encode_udf(merges)
    enc = heldout.select("source", ws.alias("ws")).select(
        "source",
        F.size("ws").alias("n_words"),
        encode(F.col("ws")).alias("bpe"),
    )
    return (
        enc.select(
            "source",
            "n_words",
            F.size("bpe").alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.sum("n_words").alias("words"),
            F.sum("n_tokens").alias("tokens"),
            (F.sum("n_tokens").cast("double") / F.sum("n_words")).alias("fertility"),
        )
        .orderBy("source")
    )


@graded("q_cross_corpus_dedup")  # rows-only: LSH banding is probabilistic
# capture (S-curve ~0.59 at 32/8) — recall vs brute force is measured in
# tests/test_algorithms.py, not oracle-matched (a DuckDB oracle would be
# the exact A×B cross join and legitimately disagree on band-missed pairs)
def q_cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-duplicate join: split documents into an
    'archive' and an 'incoming batch' by md5 gate and find incoming
    docs that near-duplicate an archive doc (exact shingle Jaccard
    ≥ 0.6 on banding survivors) — the incremental form of near-dedup
    (the content-hash q_incremental_dedup catches only EXACT replays)
    and the shape of train-vs-benchmark contamination screening at
    similarity, not substring, granularity.

    operators/dedup.minhash_lsh_cross_candidates: band keys scan-local
    per side, the band join moves (id, band-key) rows only, exact
    verification touches surviving candidates — A×B is never
    materialized. 100 TB: archive band keys are precomputed once and
    bucketed; each batch joins its own keys against them.
    """
    from noaa_etl_spark.operators.dedup import minhash_lsh_cross_candidates

    docs = load_table(spark, sf_dir, "documents")
    gate = F.substring(
        F.md5(F.concat(F.lit("xc:"), F.col("doc_id").cast("string"))), 1, 1
    )
    archive = docs.filter(gate < "c")    # ~75%
    incoming = docs.filter(gate >= "c")  # ~25%
    return minhash_lsh_cross_candidates(incoming, archive).filter(
        F.col("jaccard_sim") >= 0.6
    )


# Hot-shingle cap for containment candidate generation: a gram occurring
# in more than DF_CAP docs is boilerplate (templated headers, stopword
# runs) and generates O(df²) candidate rows if joined — the round-6
# fuzzy-match degeneration. Grams are DISTINCT per doc, so df ≤ n_docs;
# the cap bounds candidate rows at Σ min(df, CAP)² ≤ n_grams·CAP².
# Soundness: a pair is missed only if EVERY shared gram is hot — i.e.
# the overlap is pure boilerplate, which is exactly the overlap a
# containment dedup should not fire on. The oracle applies the
# identical cap, so grading agrees on any regenerated fixture
# (current fixture max df = 7: the cap is a no-op here, tested).
CONTAINMENT_DF_CAP = 64


def containment_verify(grams_df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact containment C(A→B) = |grams(A)∩grams(B)| / |grams(A)| for
    candidate (contained_id, container_id) pairs — the verify stage
    shared by the inverted-index form (q_containment_dedup) and the
    LSH-blocked form (q_containment_lsh). `grams_df` = (doc_id, grams
    DISTINCT array). Two co-partitioned id joins move each gram array
    once per surviving candidate; inter/size are exact integers and
    containment one IEEE division — bit-equal cross-engine."""
    ga = grams_df.select(
        F.col("doc_id").alias("contained_id"), F.col("grams").alias("ga_grams")
    )
    gb = grams_df.select(
        F.col("doc_id").alias("container_id"), F.col("grams").alias("gb_grams")
    )
    inter = F.size(F.array_intersect("ga_grams", "gb_grams")).cast("bigint")
    containment = inter.cast("double") / F.size("ga_grams")
    return (
        pairs.join(ga, "contained_id")
        .join(gb, "container_id")
        .filter(containment >= 0.8)
        .select(
            "contained_id",
            "container_id",
            inter.alias("inter"),
            F.round(containment, 6).alias("containment"),
        )
    )


@graded(
    "q_containment_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_transform(t[1:len(t)-2], (x, i) -> x || ' ' || t[i + 1] || ' ' || t[i + 2])) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 3
    ),
    exploded AS (SELECT doc_id, unnest(grams) AS g FROM toks),
    capped AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM exploded
      ) WHERE df <= {CONTAINMENT_DF_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS contained_id, b.doc_id AS container_id
      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id <> b.doc_id
    )
    SELECT contained_id, container_id,
           CAST(len(list_intersect(ta.grams, tb.grams)) AS BIGINT) AS inter,
           round(CAST(len(list_intersect(ta.grams, tb.grams)) AS DOUBLE) / len(ta.grams), 6) AS containment
    FROM cand
    JOIN toks ta ON ta.doc_id = contained_id
    JOIN toks tb ON tb.doc_id = container_id
    WHERE CAST(len(list_intersect(ta.grams, tb.grams)) AS DOUBLE) / len(ta.grams) >= 0.8
    """,
)
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection by n-gram containment
    C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| ≥ 0.8 — the Broder
    containment coefficient. Jaccard misses the subset-duplication
    case (a chunk pasted inside a much larger page scores low Jaccard
    but containment ≈ 1); training-data pipelines drop the CONTAINED
    doc and keep the container, so the ordered pair matters — both
    directions are emitted and the small-in-big direction is the one
    that fires.

    Two stages, both exact given the candidate rule: (1) candidates
    from an inverted-index self-join restricted to grams with
    df ≤ CONTAINMENT_DF_CAP — the df comes from a count window over
    the gram partitioning the join needs anyway (never an agg +
    join-back double-plan), so hot boilerplate shingles cannot
    generate O(df²) join rows on a templated corpus; (2) exact
    array_intersect verification on surviving pairs
    (containment_verify). The oracle replays the identical cap, so
    both engines agree by construction on any fixture.

    Scale design: candidate rows are bounded at Σ min(df,cap)² and
    each gram array crosses the wire once per surviving candidate.
    At corpus scale route candidates through MinHash-LSH instead
    (q_containment_lsh composes exactly that) and keep this form for
    verify-on-candidates.
    """
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    toks = tokenize(F.col("text"))
    # localCheckpoint: grams_df has FOUR readers (the exploded window
    # path, the na stats frame, and both sides of containment_verify) —
    # un-checkpointed, each replans the scan+tokenize+ngrams subtree
    # (the multi-reader double-plan rule, SCALING.md).
    grams_df = (
        docs.filter(F.size(toks) >= 3)
        .select("doc_id", F.array_distinct(ngrams(toks, 3)).alias("grams"))
        .localCheckpoint(eager=True)
    )
    exploded = grams_df.select("doc_id", F.explode("grams").alias("g"))
    from pyspark.sql import Window

    # localCheckpoint: THREE readers (both self-join sides + the per-doc
    # capped-count frame) — un-materialized each replans the df window
    # and its exchange (r15 audit: 3x the window, +20 MB shuffle).
    capped = (
        exploded.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("g"))
        )
        .filter(F.col("df") <= CONTAINMENT_DF_CAP)
        .drop("df")
        .localCheckpoint(eager=True)
    )
    a = capped.select(F.col("doc_id").alias("contained_id"), F.col("g").alias("ga"))
    b = capped.select(F.col("doc_id").alias("container_id"), F.col("g").alias("gb"))
    # r15 opt — COUNT-FILTER before the array verify (the PPJoin-family
    # count filter, exact given the cap arithmetic): the same gram
    # equi-join, but aggregated to c = #shared capped grams per ordered
    # pair (map-side combinable — replaces dropDuplicates, same shuffle)
    # instead of shipping every pair to the gram-array join. With
    # na = |grams(A)| and ha = #over-cap grams of A,
    #   c <= inter <= c + ha   (a shared gram missing from c must be
    #                           over-cap, and A has only ha of those),
    # so (c + ha)/na < 0.8 pairs can NEVER verify (dropped without the
    # arrays), and ha = 0 pairs have inter = c EXACTLY (every gram of A
    # is capped, so the capped join saw the whole intersection) — only
    # the ha > 0 survivors ride containment_verify. At sf0.1 this cut
    # the verified pair volume 2.26M -> ~2k and the query 4.8 -> ~2 s;
    # at 100 TB it removes the gram-array x candidate join blow-up the
    # old form paid (SCALING.md containment note).
    cand_counts = (
        a.join(
            b,
            (F.col("ga") == F.col("gb"))
            & (F.col("contained_id") != F.col("container_id")),
        )
        .groupBy("contained_id", "container_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # Per-doc gram totals and over-cap counts: na from the distinct gram
    # array, ka from the capped relation (both doc-grain, tiny payload).
    na_df = grams_df.select(
        F.col("doc_id").alias("contained_id"),
        F.size("grams").cast("bigint").alias("na"),
    )
    ka_df = capped.groupBy(F.col("doc_id").alias("contained_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ka")
    )
    stats = na_df.join(ka_df, "contained_id", "left").select(
        "contained_id",
        "na",
        (F.col("na") - F.coalesce(F.col("ka"), F.lit(0))).alias("ha"),
    )
    scored = cand_counts.join(stats, "contained_id").filter(
        (F.col("c") + F.col("ha")).cast("double") / F.col("na") >= 0.8
    )
    exact_branch = scored.filter(F.col("ha") == 0).select(
        "contained_id",
        "container_id",
        F.col("c").alias("inter"),
        F.round(F.col("c").cast("double") / F.col("na"), 6).alias("containment"),
    )
    verify_branch = containment_verify(
        grams_df,
        scored.filter(F.col("ha") > 0).select("contained_id", "container_id"),
    )
    return exact_branch.unionByName(verify_branch)


@graded("q_containment_lsh")  # rows-only: LSH banding is probabilistic
# capture — equality to the exact form on planted subset-duplicates is
# asserted in tests/test_algorithms.py, not oracle-matched (a SQL oracle
# would be the exact join and legitimately disagree on band-missed pairs)
def q_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-after-LSH: the composition SCALING.md's containment
    note describes, made literal — MinHash banding generates candidate
    pairs, containment_verify (the exact stage shared with
    q_containment_dedup) scores them. Banding runs at a HIGH-RECALL
    operating point (32 perms / 16 bands → rows_per_band 2, S-curve
    midpoint ≈ (1/16)^(1/2) ≈ 0.25 Jaccard) because subset duplication
    deflates Jaccard: A ⊂ B with containment c and |B| = k·|A| has
    Jaccard c/(1−c+k), so a chunk pasted into a 3× page sits near 0.25.

    Scale design: band keys are scan-local, the band join moves
    (id, band-key) rows only, and verification touches surviving
    candidates — the O(df²) inverted-index risk is gone entirely; this
    is the 100 TB form, with the df-capped exact form kept for
    fixture-scale grading.
    """
    from noaa_etl_spark.operators.dedup import minhash_lsh_candidates

    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    toks = tokenize(F.col("text"))
    # localCheckpoint: both containment_verify sides read this frame —
    # un-checkpointed each replans scan+tokenize+ngrams (r15 opt, the
    # multi-reader rule).
    grams_df = (
        docs.filter(F.size(toks) >= 3)
        .select("doc_id", F.array_distinct(ngrams(toks, 3)).alias("grams"))
        .localCheckpoint(eager=True)
    )
    cand = minhash_lsh_candidates(
        docs, "text", "doc_id", shingle_n=3, num_perm=32, bands=16, verify=False
    )
    # Containment is asymmetric: score both orientations of each
    # unordered candidate pair.
    both = cand.select(
        F.col("id_a").alias("contained_id"), F.col("id_b").alias("container_id")
    ).unionByName(
        cand.select(
            F.col("id_b").alias("contained_id"), F.col("id_a").alias("container_id")
        )
    )
    return containment_verify(grams_df, both)


ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz "  # fixed term order


def _entropy_oracle() -> str:
    cnt_cols = ",\n             ".join(
        f"CAST(length(t) - length(replace(t, '{c}', '')) AS BIGINT) AS c{i}"
        for i, c in enumerate(ENTROPY_ALPHABET)
    )
    n_expr = " + ".join(f"c{i}" for i in range(len(ENTROPY_ALPHABET)))
    terms = "\n             + ".join(
        f"CASE WHEN c{i} > 0 THEN -(CAST(c{i} AS DOUBLE) / n) * log2(CAST(c{i} AS DOUBLE) / n) ELSE CAST(0.0 AS DOUBLE) END"
        for i in range(len(ENTROPY_ALPHABET))
    )
    return f"""
    WITH cnts AS (
      SELECT doc_id,
             {cnt_cols}
      FROM (SELECT doc_id, lower(text) AS t FROM documents)
    ),
    tot AS (
      SELECT *, {n_expr} AS n FROM cnts
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_counted,
           round({terms}, 9) AS entropy_bits,
           round({terms}, 9) >= 3.0 AS keep
    FROM tot WHERE n > 0
    """


@graded("q_entropy_filter", oracle=_entropy_oracle())
def q_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy junk filter: per-document Shannon entropy (in
    bits/char) over the a–z+space alphabet, keeping docs ≥ 3.0 bits —
    the cheap randomness/degeneracy gate (keyboard mash, aaaa-runs,
    base64 blobs and single-word spam all sit far below natural
    language's ≈4 bits) that complements the repetition and Gopher
    rules.

    ZERO-SHUFFLE rendering: each character count is the scan-local
    expression length(t) − length(replace(t, c, '')) — 27 codegen
    expressions, NO explode and NO aggregation, so corpus text never
    enters an exchange and the plan is a pure projection (the
    q_quality_gate shape with arithmetic instead of thresholds). The
    entropy sum runs over the FIXED alphabet order as one literal
    expression chain, so both engines evaluate identical doubles in
    identical order; graded at 9 decimals (the ln() 1-ulp contract)
    with `keep` derived from the ROUNDED value (the perplexity
    lesson).

    100 TB: one columnar scan, no shuffle, embarrassingly parallel.
    """
    # spread_small_scan (r16 opt — the r15 single-task systematic): the
    # 27 per-char length(replace(...)) expressions each rescan the text,
    # and the fixture's one-row-group scan ran all of it on one core
    # (4.3 s warm; 2.0 s spread). No-op on real multi-split inputs.
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    t = F.lower(F.col("text"))
    cnts = docs.select(
        "doc_id",
        *[
            (F.length(t) - F.length(F.replace(t, F.lit(c), F.lit(""))))
            .cast("bigint")
            .alias(f"c{i}")
            for i, c in enumerate(ENTROPY_ALPHABET)
        ],
    )
    n = F.col("c0")
    for i in range(1, len(ENTROPY_ALPHABET)):
        n = n + F.col(f"c{i}")
    tot = cnts.withColumn("n", n)

    def term(i: int):
        p = F.col(f"c{i}").cast("double") / F.col("n")
        return F.when(F.col(f"c{i}") > 0, -p * F.log2(p)).otherwise(F.lit(0.0))

    ent = term(0)
    for i in range(1, len(ENTROPY_ALPHABET)):
        ent = ent + term(i)
    ent = F.round(ent, 9)
    return tot.filter(F.col("n") > 0).select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_counted"),
        ent.alias("entropy_bits"),
        (ent >= 3.0).alias("keep"),
    )


@graded(
    "q_cooccurrence_pmi",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT unnest(t) AS w FROM toks),
    uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM uni),
    bg AS (
      SELECT unnest(list_transform(t[1:len(t)-1], (x, i) -> x || ' ' || t[i + 1])) AS g
      FROM toks WHERE len(t) >= 2
    ),
    bc AS (SELECT g, CAST(count(*) AS BIGINT) AS c_xy FROM bg GROUP BY g HAVING count(*) >= 5),
    scored AS (
      SELECT string_split(b.g, ' ')[1] AS x, string_split(b.g, ' ')[2] AS y,
             b.c_xy, ux.c AS c_x, uy.c AS c_y,
             round(ln(CAST(b.c_xy AS DOUBLE) * n.n_tokens / (CAST(ux.c AS DOUBLE) * uy.c)), 6) AS pmi
      FROM bc b, n
      JOIN uc ux ON ux.w = string_split(b.g, ' ')[1]
      JOIN uc uy ON uy.w = string_split(b.g, ' ')[2]
    )
    SELECT * FROM scored
    ORDER BY pmi DESC, x, y
    LIMIT 50
    """,
)
def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 adjacent token pairs by pointwise
    mutual information PMI(x,y) = ln(c_xy·N / (c_x·c_y)), min support
    c_xy ≥ 5 — the corpus-statistics step behind phrase detection
    (word2vec-style phrase merging) and tokenizer-vocab curation.

    Exactness: all counts are exact integers from combiner aggs; PMI is
    one ln over an integer-built ratio, graded ROUNDED to 6 decimals
    (the perplexity 1-ulp-ln lesson) with the rank ordering taken on
    the rounded value + (x, y) tiebreak so both engines rank
    identically.

    Scale: adjacent-bigram enumeration is linear in corpus tokens
    (never the all-pairs quadratic); unigram/bigram counts combine
    map-side; the two marginal attachments are joins on the token key
    (broadcast at fixture vocab, co-partitioned at web vocab); N is a
    bounded driver scalar (one row). Top-50 reduces via per-partition
    heaps (TakeOrderedAndProject).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    uni = docs.select(F.explode(toks).alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c")).persist()
    n_tokens = uc.agg(F.sum("c")).collect()[0][0]  # bounded: one scalar
    bg = docs.filter(F.size(toks) >= 2).select(
        F.explode(ngrams(toks, 2)).alias("g")
    )
    bc = (
        bg.groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    parts = F.split(F.col("g"), " ")
    scored = (
        bc.select(parts[0].alias("x"), parts[1].alias("y"), "c_xy")
        .join(uc.select(F.col("w").alias("x"), F.col("c").alias("c_x")), "x")
        .join(uc.select(F.col("w").alias("y"), F.col("c").alias("c_y")), "y")
        .select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            F.round(
                F.log(
                    F.col("c_xy").cast("double")
                    * F.lit(int(n_tokens))
                    / (F.col("c_x").cast("double") * F.col("c_y"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "x", "y").limit(50)


def ranked_matches(docs: DataFrame) -> DataFrame:
    """The stacked (term, doc_id, tf, rel, score_i) matched frame shared
    by the ranking evals (NDCG, MRR): ONE corpus scan, terms as columns
    via array HOFs (the BM25 contract, no explode), integer tf-density
    ranker and integer labels."""
    ws = F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    per_doc = docs.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("dl"),
        *[
            F.size(F.filter(ws, _tf_term(t))).cast("bigint").alias(f"tf_{t}")
            for t in BM25_TERMS
        ],
    )
    stack_expr = "stack({n}, {args}) as (term, tf)".format(
        n=len(BM25_TERMS),
        args=", ".join(f"'{t}', tf_{t}" for t in BM25_TERMS),
    )
    return (
        per_doc.select("doc_id", "dl", F.expr(stack_expr))
        .filter(F.col("tf") > 0)
        .select(
            "term",
            "doc_id",
            "tf",
            F.least(F.col("tf"), F.lit(3).cast("bigint")).alias("rel"),
            F.expr("tf * 1000000 div dl").alias("score_i"),
        )
    )


def _ndcg_oracle() -> str:
    stacked = "\n      UNION ALL\n".join(
        f"      SELECT '{t}' AS term, doc_id, tf_{t} AS tf, dl"
        f" FROM per_doc WHERE tf_{t} > 0"
        for t in BM25_TERMS
    )
    fold = "round(sum(CAST(rel AS DOUBLE) / log2(rn + CAST(1.0 AS DOUBLE)) ORDER BY rn), 9)"
    return f"""
    WITH {BM25_ORACLE_CTES},
    stacked AS (
{stacked}
    ),
    scored AS (
      SELECT term, doc_id, tf, least(tf, 3) AS rel,
             tf * 1000000 // dl AS score_i
      FROM stacked
    ),
    actual AS (
      SELECT term, rel,
             CAST(row_number() OVER (PARTITION BY term
                                     ORDER BY score_i DESC, doc_id) AS INT) AS rn
      FROM scored QUALIFY rn <= 10
    ),
    ideal AS (
      SELECT term, rel,
             CAST(row_number() OVER (PARTITION BY term
                                     ORDER BY rel DESC, doc_id) AS INT) AS rn
      FROM scored QUALIFY rn <= 10
    ),
    d AS (SELECT term, {fold} AS dcg  FROM actual GROUP BY term),
    i AS (SELECT term, {fold} AS idcg FROM ideal  GROUP BY term),
    nm AS (SELECT term, CAST(count(*) AS BIGINT) AS n_matched FROM scored GROUP BY term)
    SELECT nm.term, nm.n_matched, d.dcg, i.idcg,
           round(d.dcg / i.idcg, 9) AS ndcg
    FROM nm JOIN d USING (term) JOIN i USING (term)
    """


@graded("q_ndcg_eval", oracle=_ndcg_oracle())
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 ranking-quality evaluation: for each query term, score
    the LENGTH-NORMALIZED ranker (integer tf-density: tf·10⁶ div dl)
    against graded relevance labels rel = min(tf, 3) — the offline
    eval loop every retrieval stack runs before shipping a ranker
    change (RBO asks "do two rankers agree"; NDCG asks "how good is
    this ranker against labels"). DCG@10 = Σ relᵢ/log₂(i+1) over the
    ranker's top 10; IDCG from the label-ideal ordering; NDCG = ratio.

    Exactness: ranker scores and labels are INTEGERS (floor-div
    density — both engines' div/// truncate identically on positives;
    ties broken by doc_id), so both top-10 sets are deterministic.
    log₂ is ln-based ⇒ the 1-ulp window applies: DCG/IDCG fold in
    ASCENDING rank order on both engines (Spark d-sorted array fold,
    DuckDB sum ORDER BY rn) and grade at 9 decimals; ndcg derives from
    the ROUNDED pair (the perplexity lesson).

    100 TB: ONE corpus scan produces the stacked (term, doc, tf)
    matched frame (terms are columns via array HOFs — the BM25
    contract, no explode); each ranking reduces via the two-phase
    per-partition heap prune (grouped_topk_twophase: map-side ≤k per
    term per partition, window only over survivors — never a
    corpus-wide rank window); all NDCG math runs on ≤ |terms|×10 rows.
    """
    from noaa_etl_spark.operators.topk import grouped_topk_twophase

    scored = ranked_matches(load_table(spark, sf_dir, "documents"))

    def fold_dcg(topk: DataFrame, out: str) -> DataFrame:
        term_val = F.col("rel").cast("double") / F.log2(F.col("rn") + F.lit(1.0))
        return topk.groupBy("term").agg(
            F.round(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("rn", term_val.alias("v")))
                        ),
                        lambda s: s["v"],
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                9,
            ).alias(out)
        )

    actual = grouped_topk_twophase(
        scored, ["term"], [("score_i", False), ("doc_id", True)], 10, rank_col="rn"
    ).select("term", "rel", F.col("rn").cast("int").alias("rn"))
    ideal = grouped_topk_twophase(
        scored, ["term"], [("rel", False), ("doc_id", True)], 10, rank_col="rn"
    ).select("term", "rel", F.col("rn").cast("int").alias("rn"))

    d = fold_dcg(actual, "dcg")
    i = fold_dcg(ideal, "idcg")
    nm = scored.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
    return (
        nm.join(F.broadcast(d), "term")
        .join(F.broadcast(i), "term")
        .select(
            "term",
            "n_matched",
            "dcg",
            "idcg",
            F.round(F.col("dcg") / F.col("idcg"), 9).alias("ndcg"),
        )
    )


@graded(
    "q_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(t[1:len(t)-2],
               (x, i) -> md5(x || ' ' || t[i+1] || ' ' || t[i+2])))) AS h
      FROM toks WHERE len(t) >= 3
    ),
    per_doc AS (
      SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_grams
      FROM grams GROUP BY 1, 2
    ),
    firsts AS (SELECT h, min(doc_id) AS first_doc FROM grams GROUP BY h),
    novel AS (
      SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
      FROM firsts GROUP BY 1
    )
    SELECT p.source,
           CAST(count(*) AS BIGINT)                            AS n_docs,
           CAST(sum(p.n_grams) AS BIGINT)                      AS n_grams,
           CAST(sum(coalesce(n.n_novel, 0)) AS BIGINT)         AS n_novel,
           CAST(sum(coalesce(n.n_novel, 0)) AS DOUBLE)
             / CAST(sum(p.n_grams) AS BIGINT)                  AS novelty
    FROM per_doc p LEFT JOIN novel n USING (doc_id)
    GROUP BY p.source
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus NOVELTY: the fraction of each document's
    distinct word 3-grams that appear for the FIRST time in the corpus
    (arrival order = doc_id), aggregated per source — the curation
    metric that separates sources still contributing new content from
    ones re-serving what the corpus already has (de-dup tells you
    exact copies; novelty tells you marginal information).

    First-occurrence attribution is min(doc_id) per gram; a doc's
    novel-gram count is then #{grams whose first_doc == doc_id} — NO
    gram-side join back to documents: the firsts relation groups
    straight to (doc_id, n_novel) and meets the scan-local per-doc
    totals in ONE co-partitioned doc-grain join (the repetition-filter
    shape). Grams travel as md5 DIGESTS, not strings — the shuffle key
    is 32 fixed bytes regardless of token length (both engines hash
    identically, so the grade is unaffected; a collision would merge
    the same two grams in both).

    Exactness: all counts exact BIGINTs; novelty is one division.

    100 TB: array_distinct BEFORE explode (no duplicate grams ride the
    wire); the gram min-agg is combinable map-side; per-doc totals
    never shuffle at gram grain (computed as size() in the scan); the
    final rollup is |sources| rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", tokenize(F.col("text")).alias("t")
    ).filter(F.size("t") >= 3)
    hashed = toks.select(
        "doc_id",
        "source",
        F.array_distinct(
            F.transform(ngrams(F.col("t"), 3), lambda g: F.md5(g.cast("binary")))
        ).alias("hs"),
    )
    per_doc = hashed.select(
        "doc_id", "source", F.size("hs").cast("bigint").alias("n_grams")
    )
    grams = hashed.select("doc_id", F.explode("hs").alias("h"))
    firsts = grams.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel")
    )
    joined = per_doc.join(novel, "doc_id", "left").select(
        "source",
        "n_grams",
        F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias("n_novel"),
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("n_grams"),
        F.sum("n_novel").cast("bigint").alias("n_novel"),
        (F.sum("n_novel").cast("double") / F.sum("n_grams")).alias("novelty"),
    )


@graded(
    "q_keyword_extraction",
    oracle="""
    WITH tf AS (
      SELECT doc_id, w AS word, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY doc_id, w
    ),
    idf AS (
      SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY word
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    ranked AS (
      SELECT tf.doc_id, tf.word, tf.tf, idf.df,
             round(tf.tf * ln(CAST(n_docs AS DOUBLE) / idf.df), 6) AS tfidf,
             CAST(row_number() OVER (
               PARTITION BY tf.doc_id ORDER BY tf.tf DESC, idf.df, tf.word
             ) AS INT) AS rk
      FROM tf JOIN idf USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tf, df, tfidf, rk FROM ranked WHERE rk <= 3
    """,
)
def q_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-3 terms per doc under
    the tf-idf family ordering — the tagging/indexing step downstream
    of q_tfidf's corpus-wide table.

    Ranking key is the INTEGER surrogate (tf DESC, df ASC, word): the
    same ordering tf·ln(N/df) induces when tf dominates, but exact
    integers end-to-end — ranking on the ln-valued score itself would
    let a 1-ulp cross-engine ln() difference flip two near-equal
    keywords at the top-k boundary (the perplexity lesson applied to
    ORDER, where rounding can't save you). The tfidf score is still
    emitted, 6dp, for display.

    Scale: tf/df are combinable aggs; idf joins back on the word key
    (broadcast at fixture vocab, shuffle-on-word at corpus scale); the
    rank window partitions by doc_id — HIGH-cardinality partitions,
    the scale-friendly window shape (contrast: the per-class sampler
    routes through the two-phase prune precisely because classes are
    few).
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    idf = tf.groupBy("word").agg(F.count_distinct("doc_id").cast("bigint").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("word")
    )
    scored = (
        tf.join(idf, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    return scored.withColumn("rk", F.row_number().over(w).cast("int")).filter(
        F.col("rk") <= 3
    )


# Leet-speak folding shared by the engine and replayed by the oracle:
# translate() is position-independent char mapping — available and
# identical in both engines (no regex, so no Java-vs-RE2 divergence).
_LEET_FROM = "013457@$"
_LEET_TO = "oleast" + "as"
BLOCKLIST_TERMS = ["vector", "spark", "window"]


@graded(
    "q_blocklist_filter",
    oracle="""
    WITH norm AS (
      SELECT doc_id, source,
             translate(lower(text), '013457@$', 'oleastas') AS nt
      FROM documents
    ),
    hits AS (
      SELECT doc_id, source,
             list_filter(['vector', 'spark', 'window'],
                         t -> contains(nt, t)) AS terms
      FROM norm
    )
    SELECT doc_id, source,
           array_to_string(terms, ',')        AS blocked_terms,
           CAST(len(terms) AS BIGINT)         AS n_terms
    FROM hits WHERE len(terms) > 0
    """,
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety blocklist filter with obfuscation folding — the
    toxicity/brand-safety gate every training-data pipeline runs before
    quality scoring: fold leet-speak substitutions (0→o, 1→l, 3→e,
    4→a, 5→s, 7→t, @→a, $→s) with translate() — character mapping, NOT
    regex, so there is no Java-vs-RE2 semantic gap (the PII-scrub
    lesson) and no pattern backreference (RE2 has none) — then flag
    documents containing any blocklist term as a substring. Emits the
    matched terms in blocklist order so reviewers see WHY a doc was
    quarantined (the q_csv_malformed_recovery quarantine contract).

    Scale: scan-local — the blocklist rides the plan as an array
    literal (a real 10⁴-term list would broadcast a join against an
    Aho-Corasick UDF; the contains-fold form is exact for the audit
    sizes this query grades). Zero exchanges; plan-gated."""
    docs = load_table(spark, sf_dir, "documents")
    nt = F.translate(F.lower(F.col("text")), _LEET_FROM, _LEET_TO)
    hits = docs.select(
        "doc_id",
        "source",
        F.filter(
            F.array(*[F.lit(t) for t in BLOCKLIST_TERMS]),
            _contains_term_factory(nt),
        ).alias("terms"),
    )
    return hits.filter(F.size("terms") > 0).select(
        "doc_id",
        "source",
        F.array_join("terms", ",").alias("blocked_terms"),
        F.size("terms").cast("bigint").alias("n_terms"),
    )


def _contains_term_factory(norm_col):
    """Factory, not a default-arg lambda: a 2-arg lambda would be
    misread as an (element, index) HOF lambda (CLAUDE.md)."""

    def pred(term):
        return F.contains(norm_col, term)

    return pred


@graded(
    "q_cms_join_estimate",
    oracle="""
    WITH a AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
      FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1
    ),
    b AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
      FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY 1
    )
    SELECT CAST((SELECT sum(a.c * b.c) FROM a JOIN b USING (l_partkey))
                AS BIGINT)                          AS true_size,
           CAST((SELECT sum(c) FROM a) AS BIGINT)   AS n_a,
           CAST((SELECT sum(c) FROM b) AS BIGINT)   AS n_b,
           TRUE AS lower_ok,
           TRUE AS upper_ok
    """,
)
def q_cms_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE estimation from CMS sketch inner products (the AMS/CMS
    estimator every cost-based optimizer wants before committing to a
    join order): |A ⋈ₖ B| = Σᵥ a(v)·b(v), estimated as
    min_d Σ_w A_d[w]·B_d[w] over the two sides' count-min grids —
    WITHOUT touching the join itself. Grid rows share hash coordinates
    (same seeds), so colliding keys only ADD mass: est ≥ true is a
    THEOREM (graded as lower_ok); E[excess] ≤ n_a·n_b/width per row, so
    est ≤ true + 4e·n_a·n_b/w fails with probability ~(1/e)⁴ per probe
    (upper_ok — the q_cms_frequencies margin style; xxhash coords are
    engine-side, hence property booleans + exact anchors rather than a
    value-matched est).

    Scale: BOTH sides' grids come from ONE fact scan (the half tag is a
    grid group key — map-side combined, shuffle carries ≤ 2·d·w partial
    cells); the inner product joins two KB-sized grids; the exact
    true_size is oracle-side only (it IS the join the estimator
    avoids) — the engine-side true count here exists only to grade the
    booleans and runs on the reduced (key, count) relation."""
    from noaa_etl_spark.operators.cms import cms_build

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.pmod(F.col("l_orderkey"), F.lit(2)).alias("half")
    )
    grids = cms_build(
        li, "l_partkey", depth=CMS_DEPTH, width=CMS_WIDTH, group_cols=("half",)
    ).localCheckpoint()  # one fact scan serves both sides + totals
    ga = grids.filter(F.col("half") == 0).select("d", "bucket", F.col("cnt").alias("ca"))
    gb = grids.filter(F.col("half") == 1).select("d", "bucket", F.col("cnt").alias("cb"))
    est = (
        ga.join(gb, ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("ip"))
        .agg(F.min("ip").cast("bigint").alias("est"))
    )
    totals = grids.filter(F.col("d") == 0).groupBy().pivot("half", [0, 1]).sum("cnt")
    totals = totals.select(
        F.col("0").cast("bigint").alias("n_a"), F.col("1").cast("bigint").alias("n_b")
    )
    # exact Σ a(v)·b(v) on the reduced (key, count) relation — grading
    # anchor only; the estimator's value is precisely NOT running this
    counts = li.groupBy("l_partkey", "half").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ca = counts.filter(F.col("half") == 0).select("l_partkey", F.col("c").alias("c_a"))
    cb = counts.filter(F.col("half") == 1).select("l_partkey", F.col("c").alias("c_b"))
    true_sz = ca.join(cb, "l_partkey").agg(
        F.sum(F.col("c_a") * F.col("c_b")).cast("bigint").alias("true_size")
    )
    margin = F.ceil(
        F.lit(4 * 2.718281828459045)
        * F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        / F.lit(CMS_WIDTH)
    ).cast("bigint")
    return (
        true_sz.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(totals))
        .select(
            "true_size",
            "n_a",
            "n_b",
            (F.col("est") >= F.col("true_size")).alias("lower_ok"),
            (F.col("est") <= F.col("true_size") + margin).alias("upper_ok"),
        )
    )


@graded(
    "q_readability",
    oracle="""
    WITH feat AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  w -> w <> '')) AS BIGINT) AS n_words,
             CAST(greatest(1, len(text) - len(regexp_replace(text, '[.!?]', '', 'g')))
                  AS BIGINT) AS n_sents,
             CAST(len(regexp_replace(lower(text), '[aeiou]+', 'x', 'g'))
                  - len(regexp_replace(lower(text), '[aeiou]+', '', 'g'))
                  AS BIGINT) AS n_syll
      FROM documents
    )
    SELECT doc_id, source, n_words, n_sents, n_syll,
           round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) AS fre,
           CASE WHEN round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) >= 60 THEN 'easy'
                WHEN round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) >= 30 THEN 'medium'
                ELSE 'hard' END AS band
    FROM feat
    WHERE n_words > 0
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease readability scoring — the classic document-
    quality feature LLM-corpus pipelines bucket on (too-hard legalese
    and too-easy listicles both get downweighted): FRE = 206.835 −
    1.015·(words/sentence) − 84.6·(syllables/word), with the standard
    cheap proxies — sentences = terminal-punctuation count (floored at
    1), syllables = vowel-group runs (the [aeiou]+ run count, the usual
    hyphenation-free approximation).

    Exactness: all three counts are exact integers from character-class
    regexes shared verbatim by Java and RE2/DuckDB (the pii_scrub
    subset rule — plain char classes only); the score is one fixed
    chain of IEEE correctly-rounded ops over identical doubles ⇒
    bit-equal, rounded at 6dp with the band derived from the ROUNDED
    value (the perplexity discipline). Zero-word docs are excluded
    (ANSI division guard, regen-robust).

    100 TB: pure scan-local string arithmetic — zero exchanges, no UDF;
    counting chars via length-difference never materializes token
    arrays."""
    docs = load_table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    n_words = F.size(
        F.filter(F.split(lower, "[^a-z]+"), lambda x: x != "")
    ).cast("bigint")
    n_sents = F.greatest(
        F.lit(1).cast("bigint"),
        (
            F.length("text") - F.length(F.regexp_replace("text", "[.!?]", ""))
        ).cast("bigint"),
    )
    n_syll = (
        F.length(F.regexp_replace(lower, "[aeiou]+", "x"))
        - F.length(F.regexp_replace(lower, "[aeiou]+", ""))
    ).cast("bigint")
    feat = docs.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    ).filter(F.col("n_words") > 0)
    fre = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sents"))
        - F.lit(84.6) * (F.col("n_syll").cast("double") / F.col("n_words")),
        6,
    )
    return feat.select(
        "doc_id",
        "source",
        "n_words",
        "n_sents",
        "n_syll",
        fre.alias("fre"),
        F.when(fre >= 60, "easy")
        .when(fre >= 30, "medium")
        .otherwise("hard")
        .alias("band"),
    )


OOV_VOCAB_K = 1000


OOV_ORACLE = f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    st AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY source, w
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, sum(c) AS total FROM st GROUP BY w
        ORDER BY total DESC, w LIMIT {OOV_VOCAB_K}
      )
    )
    SELECT st.source,
           CAST(sum(st.c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NOT NULL THEN st.c ELSE 0 END)
                AS BIGINT) AS n_in_vocab,
           CAST(sum(CASE WHEN v.w IS NULL THEN st.c ELSE 0 END) AS DOUBLE)
             / CAST(sum(st.c) AS DOUBLE) AS oov_rate
    FROM st LEFT JOIN vocab v ON st.w = v.w
    GROUP BY st.source
    ORDER BY st.source
    """


def oov_finalize(st: DataFrame) -> DataFrame:
    """Shared OOV finalization over the (source, w, c) token-count
    relation (callers pass it localCheckpoint'd — it feeds both the
    global vocab reduction and the scoring join): derive the top-K
    vocabulary and the per-source coverage report. Used by q_oov_rate
    and its streaming twin (token counts are sum-mergeable; the vocab
    and rates are not — finalize after folding)."""
    vocab = (
        st.groupBy("w")
        .agg(F.sum("c").alias("total"))
        .orderBy(F.desc("total"), F.asc("w"))
        .limit(OOV_VOCAB_K)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    scored = st.join(F.broadcast(vocab), "w", "left")
    return (
        scored.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab"), F.col("c")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_in_vocab"),
            (
                F.sum(F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(F.lit(0))).cast("double")
                / F.sum("c").cast("double")
            ).alias("oov_rate"),
        )
    )


@graded("q_oov_rate", oracle=OOV_ORACLE)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus top-1000
    vocabulary — the tokenizer-coverage diagnostic run before training
    a fixed-vocab model on a new source mix (a source whose OOV rate
    spikes will fragment into byte-fallback tokens, inflating its
    effective token cost; pairs with q_tokenizer_fertility, which
    measures the same risk against a TRAINED BPE).

    Vocabulary selection is DETERMINISTIC: top-K global tokens by
    (count DESC, token ASC) — the q_keyword_extraction ordering
    doctrine (never rank on a float). oov_rate is one division of
    exact BIGINTs.

    Plan: one explode → (source, token) combinable agg,
    localCheckpoint'd because it feeds BOTH the global vocab reduction
    and the per-source scoring join (the multi-reader double-plan
    rule); the global top-K is a TakeOrderedAndProject over the
    reduced token relation, broadcast back. Token text crosses the
    wire once.

    100 TB: shuffle ∝ distinct (source, token) pairs, not corpus
    tokens; the vocab is a K-row broadcast. A 100× corpus grows the
    reduced relation sublinearly (vocabulary saturation).
    """
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    return oov_finalize(st)


@graded(
    "q_line_dedup_global",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    lines AS (
      SELECT doc_id, i.i AS idx,
             array_to_string(t[i.i * 10 + 1 : i.i * 10 + 10], ' ') AS line
      FROM toks, (SELECT unnest(range(0, 512)) AS i) i
      WHERE i.i < (len(t) + 9) // 10
    ),
    winners AS (
      SELECT line, min(doc_id * 1048576 + idx) AS k FROM lines GROUP BY line
    ),
    kept AS (
      SELECT k // 1048576 AS doc_id, k % 1048576 AS idx, line FROM winners
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_kept,
           md5(string_agg(line, ' ' ORDER BY idx)) AS kept_md5
    FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_line_dedup_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style GLOBAL line-level dedup: split every document into
    10-word segments ('lines'), keep each distinct line only at its
    FIRST occurrence under the total (doc_id, idx) order, and reassemble
    each document from its surviving lines — the classic boilerplate
    killer (nav bars, license headers, repeated footers) that document-
    level dedup cannot touch because the containing documents differ.

    First-occurrence-wins needs NO window and NO join-back: the winner
    of each line group IS the kept instance, so one groupBy(line) with
    min over the encoded BIGINT key doc_id*2^20 + idx (idx < 2^20 — a
    512-line cap per doc is part of the segmentation contract here)
    selects the survivors, and one doc-grain agg reassembles them in
    idx order (md5 of the reassembled text is the graded witness — any
    mis-ordered, dropped, or duplicated line changes it). Two
    exchanges total: lines shuffle by content once, survivors by doc
    once; line synthesis is pure expression land (sequence + slice +
    array_join), no explode of per-token rows.

    Docs whose every line was seen earlier vanish from the output by
    definition (nothing survives) — the graded relation is the
    surviving corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    # The 512-line cap is enforced on BOTH sides (the oracle's
    # range(0, 512) and this least()) so a regenerated fixture with
    # >5120-token docs cannot silently diverge (ADVICE r13); it also
    # keeps idx < 2^20 with nine bits to spare for the encoded key.
    n_chunks = F.least(
        F.floor((F.size(toks) + 9) / 10).cast("int"), F.lit(512)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("idx"),
            F.array_join(F.slice(toks, i * 10 + 1, 10), " ").alias("line"),
        ),
    )
    lines = docs.select(
        "doc_id", F.explode(chunks).alias("c")
    ).select("doc_id", F.col("c.idx").alias("idx"), F.col("c.line").alias("line"))
    winners = lines.groupBy("line").agg(
        F.min(F.col("doc_id") * 1048576 + F.col("idx")).alias("k")
    )
    kept = winners.select(
        F.expr("k div 1048576").alias("doc_id"),
        (F.col("k") % 1048576).alias("idx"),
        "line",
    )
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "line"))),
                    lambda x: x["line"],
                ),
                " ",
            )
        ).alias("kept_md5"),
    )
    # no terminal sort: per-doc table, graded order-insensitively.
    return reassembled


@graded(
    "q_rouge_eval",
    oracle="""
    WITH ranked AS (
      SELECT source, text,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    pairs AS (
      SELECT source,
             min(CASE WHEN rn = 1 THEN text END) AS ref_text,
             min(CASE WHEN rn = 2 THEN text END) AS cand_text
      FROM ranked WHERE rn <= 2 GROUP BY source
    ),
    grams AS (
      SELECT source,
             list_distinct(string_split(ref_text, ' ')) AS ref1,
             list_distinct(string_split(cand_text, ' ')) AS cand1,
             list_distinct(list_transform(
               string_split(ref_text, ' ')[1:len(string_split(ref_text, ' '))-1],
               (x, i) -> x || ' ' || string_split(ref_text, ' ')[i + 1])) AS ref2,
             list_distinct(list_transform(
               string_split(cand_text, ' ')[1:len(string_split(cand_text, ' '))-1],
               (x, i) -> x || ' ' || string_split(cand_text, ' ')[i + 1])) AS cand2
      FROM pairs WHERE cand_text IS NOT NULL
    )
    SELECT source,
           CAST(len(list_intersect(cand1, ref1)) AS BIGINT) AS r1_overlap,
           CAST(len(ref1) AS BIGINT) AS r1_ref,
           CASE WHEN len(ref1) > 0
                THEN CAST(len(list_intersect(cand1, ref1)) AS DOUBLE)
                     / CAST(len(ref1) AS DOUBLE) END AS rouge1,
           CAST(len(list_intersect(cand2, ref2)) AS BIGINT) AS r2_overlap,
           CAST(len(ref2) AS BIGINT) AS r2_ref,
           CASE WHEN len(ref2) > 0
                THEN CAST(len(list_intersect(cand2, ref2)) AS DOUBLE)
                     / CAST(len(ref2) AS DOUBLE) END AS rouge2
    FROM grams ORDER BY source
    """,
)
def q_rouge_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 / ROUGE-2 recall between a reference and candidate
    document per source — the summarization/generation eval primitive
    (how much of the reference's vocabulary and phrasing does the
    candidate recover?). DISTINCT-GRAM variant: overlap and reference
    size count unique grams (the clipped-multiset refinement changes
    scores only on documents with repeated grams; distinct-gram recall
    is the form whose counts are exact set arithmetic in both engines).

    Pair construction is deterministic: per source, the two lowest
    doc_ids are (reference, candidate) — selected via the two-phase
    grouped top-k (map-side heap prune), NEVER a row_number window over
    the full corpus partitioned by the handful of sources (the
    celebrity-window rule; the oracle may window freely at fixture
    scale). Overlaps via array_intersect on array_distinct grams ⇒
    exact BIGINTs; each rouge score is one exact division, with
    gram-free references (single-token docs for ROUGE-2) NULLed by
    CASE on both sides.

    100 TB: the top-k prune moves ≤ 2·|sources|·|input partitions| rows
    into one tiny exchange; gram set arithmetic runs on the |sources|
    surviving pairs only."""
    from noaa_etl_spark.operators.topk import grouped_topk_twophase

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id", "text")
    top2 = grouped_topk_twophase(docs, ["source"], [("doc_id", True)], k=2)
    pairs = (
        top2.groupBy("source")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("text"))).alias("ref_text"),
            F.min(F.when(F.col("rn") == 2, F.col("text"))).alias("cand_text"),
        )
        .filter(F.col("cand_text").isNotNull())
    )
    def g1(c):
        return F.array_distinct(tokenize(F.col(c)))

    def g2(c):
        return F.array_distinct(ngrams(tokenize(F.col(c)), 2))

    grams = pairs.select(
        "source",
        g1("ref_text").alias("ref1"), g1("cand_text").alias("cand1"),
        g2("ref_text").alias("ref2"), g2("cand_text").alias("cand2"),
    )
    ov1 = F.size(F.array_intersect("cand1", "ref1")).cast("bigint")
    n1 = F.size("ref1").cast("bigint")
    ov2 = F.size(F.array_intersect("cand2", "ref2")).cast("bigint")
    n2 = F.size("ref2").cast("bigint")
    return grams.select(
        "source",
        ov1.alias("r1_overlap"), n1.alias("r1_ref"),
        F.when(n1 > 0, ov1.cast("double") / n1.cast("double")).alias("rouge1"),
        ov2.alias("r2_overlap"), n2.alias("r2_ref"),
        F.when(n2 > 0, ov2.cast("double") / n2.cast("double")).alias("rouge2"),
    ).orderBy("source")


@graded(
    "q_log_odds_terms",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    st AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY source, w
    ),
    uni AS (
      SELECT w, CAST(sum(c) AS BIGINT) AS y_w
      FROM st GROUP BY w ORDER BY sum(c) DESC, w ASC LIMIT 10
    ),
    ns AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM st GROUP BY source
    ),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st),
    spine AS (
      SELECT ns.source, ns.n_s, uni.w, uni.y_w FROM ns CROSS JOIN uni
    ),
    scored AS (
      SELECT sp.source, sp.w AS term,
             coalesce(st.c, CAST(0 AS BIGINT)) AS y_sw,
             sp.n_s, sp.y_w, n.n
      FROM spine sp
      LEFT JOIN st ON st.source = sp.source AND st.w = sp.w
      CROSS JOIN n
    )
    SELECT source, term, y_sw,
           round(ln((CAST(y_sw AS DOUBLE) + 1.0)
                    / (CAST(n_s AS DOUBLE) + 10.0 - CAST(y_sw AS DOUBLE) - 1.0))
                 - ln((CAST(y_w AS DOUBLE) + 1.0)
                      / (CAST(n AS DOUBLE) + 10.0 - CAST(y_w AS DOUBLE) - 1.0)), 6)
             AS delta,
           round((ln((CAST(y_sw AS DOUBLE) + 1.0)
                     / (CAST(n_s AS DOUBLE) + 10.0 - CAST(y_sw AS DOUBLE) - 1.0))
                  - ln((CAST(y_w AS DOUBLE) + 1.0)
                       / (CAST(n AS DOUBLE) + 10.0 - CAST(y_w AS DOUBLE) - 1.0)))
                 / sqrt(1.0 / (CAST(y_sw AS DOUBLE) + 1.0)
                        + 1.0 / (CAST(y_w AS DOUBLE) + 1.0)), 6) AS z
    FROM scored ORDER BY source, term
    """,
)
def q_log_odds_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive-term analysis via Monroe et al.'s log-odds-ratio with
    an informative Dirichlet prior (the 'Fightin' Words' statistic) —
    which of the corpus's top terms does each source OVER- or
    UNDER-use relative to the whole corpus, variance-stabilized so rare
    terms don't dominate (the corpus-analysis companion to TF-IDF:
    TF-IDF ranks within a document, log-odds z compares populations).

    TERM SELECTION IS INTEGER-ORDERED: the universe is the top-10
    global terms by (count DESC, term ASC) — the keyword-extraction
    ordering doctrine; the ln-valued z is NEVER used to rank, only
    graded per (source, term) cell ROUNDED 6dp (the ln adjudication).
    delta = ln-odds(source) − ln-odds(corpus) with α_w = 1, α0 = 10;
    z = delta/√(1/(y_sw+1) + 1/(y_w+1)). Sources missing a universe
    term get real y_sw = 0 rows via the sources×universe spine (their
    under-use z is exactly the signal).

    Plan: one explode → (source, term) combinable agg,
    localCheckpoint'd (it feeds the universe top-k, the per-source
    totals, AND the scoring join — the multi-reader rule); the
    universe is a TakeOrderedAndProject broadcast; the spine and
    scoring run on |sources|×10 rows.

    100 TB: token text crosses the wire once into the reduced
    (source, term) relation; everything downstream is bounded."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    uni = (
        st.groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("y_w"))
        .orderBy(F.desc("y_w"), F.asc("w"))
        .limit(10)
    )
    ns = st.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    n = st.agg(F.sum("c").cast("bigint").alias("n"))
    spine = ns.crossJoin(F.broadcast(uni))
    scored = (
        spine.join(
            st.select(
                F.col("source").alias("src_c"), F.col("w").alias("w_c"), "c"
            ),
            (F.col("source") == F.col("src_c")) & (F.col("w") == F.col("w_c")),
            "left",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            F.col("w").alias("term"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("y_sw"),
            "n_s", "y_w", "n",
        )
    )
    y = F.col("y_sw").cast("double")
    d_own = F.log((y + 1.0) / (F.col("n_s").cast("double") + 10.0 - y - 1.0))
    yw = F.col("y_w").cast("double")
    d_all = F.log((yw + 1.0) / (F.col("n").cast("double") + 10.0 - yw - 1.0))
    delta = d_own - d_all
    z = delta / F.sqrt(1.0 / (y + 1.0) + 1.0 / (yw + 1.0))
    return scored.select(
        "source", "term", "y_sw",
        F.round(delta, 6).alias("delta"), F.round(z, 6).alias("z"),
    ).orderBy("source", "term")


def _mrr_oracle() -> str:
    stacked = "\n      UNION ALL\n".join(
        f"      SELECT '{t}' AS term, doc_id, tf_{t} AS tf, dl"
        f" FROM per_doc WHERE tf_{t} > 0"
        for t in BM25_TERMS
    )
    return f"""
    WITH {BM25_ORACLE_CTES},
    stacked AS (
{stacked}
    ),
    scored AS (
      SELECT term, doc_id, tf, tf * 1000000 // dl AS score_i FROM stacked
    ),
    actual AS (
      SELECT term, tf,
             CAST(row_number() OVER (PARTITION BY term
                                     ORDER BY score_i DESC, doc_id) AS BIGINT) AS rn
      FROM scored QUALIFY rn <= 10
    ),
    firsts AS (
      SELECT term, CAST(min(rn) AS BIGINT) AS first_rel_rank
      FROM actual WHERE tf >= 2 GROUP BY term
    ),
    spine AS (
      SELECT term,
             CAST(count(*) FILTER (tf >= 2) AS BIGINT) AS n_rel
      FROM scored GROUP BY term
    )
    SELECT s.term, s.n_rel, f.first_rel_rank,
           CASE WHEN f.first_rel_rank IS NOT NULL
                THEN 1.0 / CAST(f.first_rel_rank AS DOUBLE) ELSE 0.0 END AS rr
    FROM spine s LEFT JOIN firsts f USING (term) ORDER BY s.term
    """


@graded("q_mrr_eval", oracle=_mrr_oracle())
def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 — the rank of the FIRST strongly-relevant result (tf ≥ 2,
    a stricter bar than the NDCG labels since every matched doc has
    tf ≥ 1) under the shared tf-density ranker: the metric for
    known-item retrieval where the user wants ONE right answer and
    position 1 vs 3 is the whole game (NDCG grades the list, MRR
    grades the first hit).

    Deterministic end-to-end: the ranking is the integer
    (score_i DESC, doc_id) order, first_rel_rank an exact BIGINT min
    over the top-10 prune, rr one division (terms whose top-10 holds
    no tf ≥ 2 doc report rank NULL / rr 0.0 on both sides — the
    miss IS the finding).

    100 TB: the shared ranked_matches frame (one corpus scan, no
    explode) + the two-phase per-partition heap prune — never a
    corpus-wide rank window; MRR math on ≤ |terms|×10 rows."""
    from noaa_etl_spark.operators.topk import grouped_topk_twophase

    scored = ranked_matches(load_table(spark, sf_dir, "documents")).localCheckpoint()
    actual = grouped_topk_twophase(
        scored, ["term"], [("score_i", False), ("doc_id", True)], 10, rank_col="rn"
    )
    firsts = (
        actual.filter(F.col("tf") >= 2)
        .groupBy("term")
        .agg(F.min("rn").cast("bigint").alias("first_rel_rank"))
    )
    spine = scored.groupBy("term").agg(
        F.count_if(F.col("tf") >= 2).cast("bigint").alias("n_rel")
    )
    rr = F.when(
        F.col("first_rel_rank").isNotNull(),
        F.lit(1.0) / F.col("first_rel_rank").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        spine.join(F.broadcast(firsts), "term", "left")
        .select("term", "n_rel", "first_rel_rank", rr.alias("rr"))
        .orderBy("term")
    )


ZIPF_FIT_ORACLE = """
    WITH counts AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ),
    ranked AS (
      SELECT word, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS r
      FROM counts
    ),
    top AS (
      SELECT r, cnt, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
      FROM ranked WHERE r <= 100
    ),
    folds AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             sum(x ORDER BY r) AS sx,
             sum(y ORDER BY r) AS sy,
             sum(x * y ORDER BY r) AS sxy,
             sum(x * x ORDER BY r) AS sxx
      FROM top
    )
    SELECT k AS n_terms,
           CASE WHEN k > 1 AND k * sxx - sx * sx <> 0 THEN
             round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
           END AS slope,
           CASE WHEN k > 1 AND k * sxx - sx * sx <> 0 THEN
             round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
           END AS intercept
    FROM folds
    """


@graded("q_zipf_fit", oracle=ZIPF_FIT_ORACLE)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus frequency distribution: least-
    squares slope of ln(freq) on ln(rank) over the TOP-100 terms — the
    corpus-health diagnostic (natural language reads slope ~ -1;
    boilerplate/template corpora flatten the head, spam/generated text
    steepens it; a drifting slope between crawl snapshots is a
    composition alarm).

    Ranking is by the INTEGER surrogate (cnt DESC, word) — the
    keyword_extraction doctrine: never rank on an engine-computed
    float. ln values are the cross-engine 1-ulp class, so ALL four
    regression sums fold in RANK order (sum ORDER BY r vs
    array_sort + aggregate) and slope/intercept are graded ROUNDED 6dp.

    Scale: the corpus collapses to the (word, cnt) relation in one
    combinable agg; top-100 is a rank window on that reduced relation
    (SinglePartition over ~vocab rows is the bounded-relation posture —
    at true web-corpus vocab sizes swap in grouped_topk_twophase's
    heap prune); the regression runs on 100 rows."""
    docs = load_table(spark, sf_dir, "documents")
    return zipf_report(zipf_counts(docs))


def zipf_counts(docs: DataFrame) -> DataFrame:
    """The (word, cnt) relation — the sum-mergeable Zipf state (per-
    micro-batch counts fold by addition; the streaming twin shares
    ZIPF_FIT_ORACLE verbatim because rank and fit run only at
    finalize: a word's rank is meaningless until every batch has
    contributed its counts)."""
    return (
        docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def zipf_report(counts: DataFrame) -> DataFrame:
    """Shared Zipf finalize over the folded (word, cnt) relation."""
    w_rank = Window.orderBy(F.desc("cnt"), F.asc("word"))
    top = (
        counts.select(
            "word", "cnt", F.row_number().over(w_rank).cast("bigint").alias("r")
        )
        .filter(F.col("r") <= 100)
        .select(
            "r",
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("cnt").cast("double")).alias("y"),
        )
    )

    def _fold(expr, name):
        return F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("r").alias("rk"), expr.alias("t")))
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias(name)

    folds = top.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        _fold(F.col("x"), "sx"),
        _fold(F.col("y"), "sy"),
        _fold(F.col("x") * F.col("y"), "sxy"),
        _fold(F.col("x") * F.col("x"), "sxx"),
    )
    kd = F.col("k").cast("double")
    det = kd * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (kd * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    ok = (F.col("k") > 1) & (det != 0)
    return folds.select(
        F.col("k").alias("n_terms"),
        F.when(ok, F.round(slope, 6)).alias("slope"),
        F.when(
            ok, F.round((F.col("sy") - slope * F.col("sx")) / kd, 6)
        ).alias("intercept"),
    )


HEAPS_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    tokens AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok FROM toks
    ),
    firsts AS (
      SELECT w, CAST(min(doc_id) AS BIGINT) AS fd
      FROM (SELECT doc_id, unnest(list_distinct(tk)) AS w FROM toks)
      GROUP BY w
    ),
    newt AS (
      SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS nv
      FROM firsts GROUP BY fd
    ),
    cums AS (
      SELECT t.doc_id,
             CAST(sum(t.n_tok) OVER (ORDER BY t.doc_id) AS BIGINT) AS cn,
             CAST(sum(coalesce(n.nv, 0)) OVER (ORDER BY t.doc_id) AS BIGINT) AS cv
      FROM tokens t LEFT JOIN newt n USING (doc_id)
    ),
    pts AS (
      SELECT doc_id,
             ln(CAST(cn AS DOUBLE)) AS x,
             ln(CAST(cv AS DOUBLE)) AS y
      FROM cums WHERE doc_id % 7 = 0 AND cn > 0 AND cv > 0
    ),
    folds AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             sum(x ORDER BY doc_id) AS sx,
             sum(y ORDER BY doc_id) AS sy,
             sum(x * y ORDER BY doc_id) AS sxy,
             sum(x * x ORDER BY doc_id) AS sxx
      FROM pts
    )
    SELECT k AS n_points,
           CASE WHEN k > 1 AND k * sxx - sx * sx <> 0 THEN
             round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
           END AS beta,
           CASE WHEN k > 1 AND k * sxx - sx * sx <> 0 THEN
             round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
           END AS ln_k
    FROM folds
    """


def heaps_tokenized(docs: DataFrame) -> DataFrame:
    """The (doc_id, tokens-array) frame, localCheckpoint'd because BOTH
    Heaps inputs (per-doc token counts AND word first-occurrences)
    derive from it — one corpus scan, not two (the multi-reader
    double-plan lesson)."""
    return docs.select(
        "doc_id", tokenize(F.col("text")).alias("tk")
    ).localCheckpoint()


def heaps_word_firsts(toks: DataFrame) -> DataFrame:
    """The (word, first_doc) relation — the MIN-mergeable Heaps state
    (the streaming twin folds per-batch firsts by min, exactly the
    activity-bitmask class but on the vocabulary axis).
    array_distinct-before-explode keeps the shuffle at one row per
    distinct (doc, word), the decontaminate trick."""
    return (
        toks.select("doc_id", F.explode(F.array_distinct(F.col("tk"))).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").cast("bigint").alias("fd"))
    )


def heaps_report(tokens: DataFrame, firsts: DataFrame) -> DataFrame:
    """Shared Heaps finalize: cumulative (tokens, vocab) over doc order,
    ln-ln least squares on the doc_id % 7 lattice."""
    newt = firsts.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nv")
    )
    joined = tokens.join(newt, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce(F.col("nv"), F.lit(0).cast("bigint")).alias("nv"),
    )
    w_cum = Window.orderBy("doc_id")
    cums = joined.select(
        "doc_id",
        F.sum("n_tok").over(w_cum).cast("bigint").alias("cn"),
        F.sum("nv").over(w_cum).cast("bigint").alias("cv"),
    )
    pts = cums.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("cn") > 0) & (F.col("cv") > 0)
    ).select(
        "doc_id",
        F.log(F.col("cn").cast("double")).alias("x"),
        F.log(F.col("cv").cast("double")).alias("y"),
    )

    def _fold(expr, name):
        return F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("doc_id").alias("d"), expr.alias("t"))
                    )
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias(name)

    folds = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        _fold(F.col("x"), "sx"),
        _fold(F.col("y"), "sy"),
        _fold(F.col("x") * F.col("y"), "sxy"),
        _fold(F.col("x") * F.col("x"), "sxx"),
    )
    kd = F.col("k").cast("double")
    det = kd * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (kd * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    ok = (F.col("k") > 1) & (det != 0)
    return folds.select(
        F.col("k").alias("n_points"),
        F.when(ok, F.round(slope, 6)).alias("beta"),
        F.when(ok, F.round((F.col("sy") - slope * F.col("sx")) / kd, 6)).alias("ln_k"),
    )


@graded("q_heaps_law", oracle=HEAPS_ORACLE)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: least-squares of
    ln(vocab-so-far) on ln(tokens-so-far) over document order — the
    companion corpus-health law to q_zipf_fit (natural corpora read
    beta ~ 0.4-0.6; near-duplicate floods flatten the curve because new
    docs stop contributing new types; OCR noise / random text push
    beta toward 1). The slope drifting between crawl snapshots is the
    vocabulary-composition alarm.

    Construction: per-doc token counts and word first-occurrence docs
    (min doc_id per word — a MIN-mergeable state, so the streaming twin
    shares this oracle) come from ONE checkpointed tokenized scan;
    cumulative (N_i, V_i) via a doc-ordered window on the doc-grain
    relation; the regression samples the FIXED doc_id % 7 lattice
    (deterministic, never a data-derived quantile). ln values are the
    1-ulp class: all four sums fold in doc order, beta/ln_k graded
    ROUNDED 6dp; k <= 1 or a singular design NULLs the fit (mirrored).

    Scale: the corpus collapses to doc-grain (doc_id, n_tok, nv) rows;
    the global cum window is the documented bounded-relation posture
    (swap in order_index range-partitioned prefix sums past ~1e8
    docs); the fold runs on |lattice| rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = heaps_tokenized(docs)
    tokens = toks.select("doc_id", F.size("tk").cast("bigint").alias("n_tok"))
    return heaps_report(tokens, heaps_word_firsts(toks))
