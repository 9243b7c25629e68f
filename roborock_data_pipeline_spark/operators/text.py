"""Text analysis (SURVEY sec 2.K L4 -- north-star EXT).

Language-ID, quality scoring, token counting, fingerprint grouping --
all as JVM-side column expressions over the `documents` table. No
Python UDFs: split/explode/array ops/regex all run in codegen, so
these scale to a 100 TB corpus limited only by the (map-side
combined) aggregation shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.functions.text import BPE_PATTERN, bpe_tokens, tokens
from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load


@query(
    "q_text_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 2) AS avg_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           ROUND(AVG(len(string_split(text, ' '))), 2) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: corpus statistics per language -- the lang-distribution +
    size profile a training-data pipeline reports first."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text"))).cast("long")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.sum(n_tok).alias("total_tokens"),
        F.round(F.avg(n_tok), 2).alias("avg_tokens"),
    )


@query(
    "q_token_explode",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    HAVING COUNT(*) >= 10
    """,
)
def q_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: vocabulary frequency via explode + groupBy (min support 10
    to bound output). Partial aggregation collapses each partition's
    token stream before the shuffle -- the scalable word count."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 10)
    )


@query(
    "q_token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS BIGINT)
               AS n_bpe_tokens
    FROM documents
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: per-doc token counting -- whitespace and BPE-ish regex
    (word/number/symbol classes). The token-budget accounting step of
    a training-data pipeline."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_ws_tokens"),
        F.size(bpe_tokens(F.col("text"))).cast("long").alias("n_bpe_tokens"),
    )


@query(
    "q_quality_score",
    oracle="""
    WITH t AS (
        SELECT doc_id, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS ttr,
           ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 2) AS avg_token_len,
           ROUND(0.5 * LEAST(n_tokens / 50.0, 1.0)
                 + 0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens), 4) AS quality
    FROM t
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: heuristic quality score per document -- length saturation +
    type-token ratio (lexical diversity). The filterable scalar a
    pipeline thresholds on before training."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text")))
    n_distinct = F.size(F.array_distinct(tokens(F.col("text"))))
    ttr = n_distinct.cast("double") / n_tokens
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(ttr, 4).alias("ttr"),
        F.round(F.col("n_chars").cast("double") / n_tokens, 2).alias("avg_token_len"),
        F.round(
            0.5 * F.least(n_tokens / F.lit(50.0), F.lit(1.0)) + 0.5 * ttr, 4
        ).alias("quality"),
    )


@query(
    "q_lang_id",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), profile AS (
        SELECT lang AS profile_lang, token FROM (
            SELECT lang, token, COUNT(*) AS freq,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY COUNT(*) DESC, token) AS rk
            FROM tok GROUP BY lang, token
        ) WHERE rk <= 20
    ), scored AS (
        SELECT t.doc_id, t.lang, p.profile_lang, COUNT(*) AS hits
        FROM tok t JOIN profile p ON t.token = p.token
        GROUP BY t.doc_id, t.lang, p.profile_lang
    ), best AS (
        SELECT doc_id, lang, profile_lang AS predicted_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, profile_lang) AS rk
        FROM scored
    )
    SELECT doc_id, lang, predicted_lang, (lang = predicted_lang) AS correct
    FROM best WHERE rk = 1
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 (EXT): corpus-derived language identification -- build a
    top-20-token profile per language, score each doc by profile
    hits, predict the argmax. Self-contained n-gram-style heuristic:
    no external model, two aggregation shuffles + one broadcast join
    (the profile is langx20 rows)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("token")
    )
    freq = tok.groupBy("lang", "token").agg(F.count("*").alias("freq"))
    wprof = W.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("token"))
    profile = (
        freq.withColumn("rk", F.row_number().over(wprof))
        .where(F.col("rk") <= 20)
        .select(F.col("lang").alias("profile_lang"), "token")
    )
    scored = (
        tok.join(F.broadcast(profile), "token")
        .groupBy("doc_id", "lang", "profile_lang")
        .agg(F.count("*").alias("hits"))
    )
    wbest = W.partitionBy("doc_id").orderBy(
        F.col("hits").desc(), F.col("profile_lang")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wbest))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("profile_lang").alias("predicted_lang"),
            (F.col("lang") == F.col("profile_lang")).alias("correct"),
        )
    )


@query(
    "q_tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), idf AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), n AS (
        SELECT COUNT(*) AS n FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * ln((n.n + 1.0) / (idf.df + 1.0)), 6) AS tfidf
        FROM tf JOIN idf USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term
        ) AS rk
        FROM scored
    )
    WHERE rk <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4+: per-document top-3 terms by TF-IDF (smoothed IDF) -- the
    classic salient-term extraction before indexing or keyword
    filtering.

    One exploded token table (NOT persisted -- r11 PERSIST_AUDIT:
    caching it measured 0.41x slower at sf0.1 / 0.89x at sf1 than
    rebuilding from the pruned scan) feeds two partial-aggregated
    groupBys; the
    IDF table is term-keyed and joins back onto TF postings --
    inverted-index shape, linear in sum tokens. At 100 TB the IDF
    table for a bounded vocabulary broadcasts, making the score join
    map-only; the per-doc top-3 is a bounded window inside each
    doc's partition, never a global sort."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    idf = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    scored = (
        tf.join(idf, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "q_sentence_split",
    oracle=r"""
    WITH parts AS (
        SELECT doc_id, string_split_regex(text, '\. ') AS ps FROM documents
    ),
    sent AS (
        SELECT doc_id, i AS sent_idx, ps[i + 1] AS sentence
        FROM parts, UNNEST(range(len(ps))) AS t(i)
    )
    SELECT doc_id, sent_idx, sentence,
           len(string_split(sentence, ' ')) AS n_words
    FROM sent WHERE length(trim(sentence)) > 0
    """,
)
def q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation: split each document on '. ' boundaries
    and emit (doc_id, sent_idx, sentence, n_words) -- the unit-of-work
    table for sentence-level dedup, quality scoring, or parallel-data
    mining. The split regex is deliberately lookbehind-free so the
    exact same pattern runs on any RE2-class engine.

    posexplode keeps the intra-document ordinal without a window; the
    op is map-only (explode fuses into the scan stage) and output
    partitioning follows the input, so at 100 TB it is a pure
    flat-map with no shuffle.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"\. ")).alias("sent_idx", "sentence"),
        )
        .where(F.length(F.trim(F.col("sentence"))) > 0)
        .select(
            "doc_id",
            "sent_idx",
            "sentence",
            F.size(F.split(F.col("sentence"), " ")).alias("n_words"),
        )
    )


CHUNK_W = 32
CHUNK_S = 24


@query(
    "q_doc_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (
        SELECT doc_id, toks,
               UNNEST(range(1, len(toks) + 1, {CHUNK_S})) AS start
        FROM t WHERE len(toks) >= 1),
    u AS (
        -- a later chunk must extend coverage past the shared overlap;
        -- otherwise the previous chunk already contains it entirely
        SELECT * FROM c
        WHERE start = 1 OR start + {CHUNK_W - CHUNK_S} <= len(toks))
    SELECT doc_id,
           ((start - 1) // {CHUNK_S})::BIGINT AS chunk_ix,
           start::BIGINT AS chunk_start,
           len(toks[start : start + {CHUNK_W} - 1])::BIGINT AS n_chunk_tokens,
           array_to_string(toks[start : start + {CHUNK_W} - 1], ' ')
               AS chunk_text
    FROM u
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 32, stride 24) --
    the context-length shaping step between curation and training:
    every document becomes >=1 chunks, and consecutive chunks share
    W-S = 8 tokens of overlap so no span is ever split mid-context.

    Pure codegen: split once, explode the stride-spaced start
    offsets (sequence), slice per start -- the token array is built
    one time per document and shared by all its chunk slices, and
    the explode is map-side (no shuffle at all: chunking is
    embarrassingly parallel, output partitioning rides the input).
    At 100 TB this runs as a map-only stage writing straight to the
    training-shard sink; chunk_ix is (start-1)/stride so chunk
    identity is deterministic without a window function."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    t = docs.select("doc_id", toks.alias("toks")).where(F.size("toks") >= 1)
    c = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks"), F.lit(CHUNK_S))).alias(
            "start"
        ),
    ).where(
        # drop a tail start the previous chunk fully contains: a
        # later chunk must add >=1 token beyond the shared overlap
        (F.col("start") == 1)
        | (F.col("start") + (CHUNK_W - CHUNK_S) <= F.size("toks"))
    )
    chunk = F.slice("toks", F.col("start"), CHUNK_W)
    return c.select(
        "doc_id",
        F.floor((F.col("start") - 1) / CHUNK_S).alias("chunk_ix"),
        F.col("start").cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


@query(
    "q_source_overlap",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT source, UNNEST(string_split(text, ' ')) AS tok
        FROM documents),
    sizes AS (SELECT source, COUNT(*)::BIGINT AS vsize
              FROM vocab GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               COUNT(*)::BIGINT AS n_common
        FROM vocab a JOIN vocab b
          ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2)
    SELECT i.src_a, i.src_b, i.n_common,
           i.n_common / (sa.vsize + sb.vsize - i.n_common)::DOUBLE
               AS vocab_jaccard
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
    ORDER BY src_a, src_b
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between ingest sources -- the
    corpus-composition signal behind 'are these two feeds scraping
    the same sites' (high overlap -> dedup harder, diversity lower).

    The DISTINCT (source, token) projection is the only pass over
    text; the pair join is an inverted-index join on token (each
    token matches <=|sources| rows -- bounded fan-out, the same
    postings shape as q_near_dup_jaccard, never documents^2).
    Intersections and vocabulary sizes stay exact integers until the
    final division, so the Jaccard is bit-identical across engines
    with no rounding at all."""
    docs = load(spark, sf_dir, "documents")
    # NOT persisted (r11, PERSIST_AUDIT): the distinct projection ends
    # at a shuffle, so the pair join's second read reuses the shuffle
    # files -- caching measured no win at either SF
    vocab = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count("*").alias("vsize"))
    a = vocab.alias("a")
    b = vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("vsize").alias("va")))
    sb = F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("vsize").alias("vb")))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            (
                F.col("n_common")
                / (F.col("va") + F.col("vb") - F.col("n_common")).cast("double")
            ).alias("vocab_jaccard"),
        )
        # no terminal orderBy (r11): presentation-only global sort
    )


@query(
    "q_winnow_fingerprint",
    oracle="""
    WITH s AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                   i -> md5(array_to_string(w[i:i+2], ' '))) AS hs
        FROM s
    ), mins AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(hs) - 3, 1) + 1),
                   i -> list_min(hs[i:i+3]))) AS fps
        FROM sh
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(list_sort(fps), '|')) AS fp_digest
    FROM mins
    """,
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1++/L4: winnowing document fingerprints (Schleimer et al.,
    MOSS) -- the rolling local-minimum fingerprint scheme: hash every
    3-word shingle (md5 -- portable across engines, unlike xxhash64),
    slide a window of 4 consecutive shingle hashes, keep each
    window's minimum; the distinct minima are the document's
    fingerprint set (guaranteed match coverage for any shared run
    >= w+k-1 words, ~1/w the storage of full shingling).

    Spark shape for 100 TB: shingle hashing is map-only (transform
    over the token array); the rolling minimum is ONE window over
    (doc_id, pos) and the fingerprint collapse is a groupBy on the
    same doc_id key, so the sort-shuffle is paid once and reused --
    never a per-window self-join. The digest column makes the whole
    set hash-comparable; the count feeds dedup-pair budgets.

    Rejected alternative (measured, not guessed): the oracle's
    array-level shape -- per-doc rolling min via
    transform+array_min(slice(hs,...)) with no explode/sort at all --
    is byte-identical but 5x SLOWER here (min-of-6: 10.0 s vs 1.9 s
    at sf0.1): higher-order-function lambdas evaluate interpreted
    (outside whole-stage codegen) and each window slices a fresh
    array, while the window MIN stays fully codegen'd. Map-only is
    not automatically faster than a shuffle the data already needs."""
    docs = load(spark, sf_dir, "documents")
    # Two deliberate choices in this prologue:
    # - tokenize ONCE per row before the shingle hashing: split()
    #   inside a per-shingle expression would re-split the full text
    #   per shingle (O(tokens^2) per doc -- measured 2x the whole
    #   query's cost);
    # - repartition by doc_id BEFORE the heavy md5 hashing: the
    #   window below requires hash(doc_id) distribution anyway, so
    #   this is the query's one exchange moved early -- the shingle
    #   hashing then runs on every core instead of inside the
    #   (possibly single-split) scan stage, and shuffles compact
    #   token arrays instead of exploded hash rows.
    tok = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .repartition("doc_id")
    )
    # Explode cheap shingle POSITIONS, then hash per exploded row --
    # NOT explode(transform(..md5..)) (the r13 shape, measured 2.9x
    # the query at sf0.1): with the hash array as the generator
    # input, InferFiltersFromGenerate pins a `size(<md5 transform>)
    # > 0` filter below the exchange that re-evaluates EVERY shingle
    # md5 a second time per row (Catalyst cannot simplify size()
    # over an opaque lambda, unlike the sequence form here), and the
    # transform lambda itself evaluates interpreted, outside
    # whole-stage codegen. Hashing after the explode runs md5 once
    # per shingle as a plain codegen expression; the inferred filter
    # degrades to size(sequence(..)) -- token-count arithmetic.
    posed = tok.select(
        "doc_id",
        # n = |shingles| derived from the token count
        F.greatest(F.size("w") - 2, F.lit(1)).alias("n"),
        "w",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.size("w") - 3, F.lit(0)))
        ).alias("pos"),
    ).select(
        "doc_id",
        "n",
        "pos",
        F.md5(
            F.concat_ws(" ", F.slice("w", F.col("pos") + 1, 3)).cast("binary")
        ).alias("h"),
    )
    wmin = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    )
    full_windows = F.col("pos") <= F.greatest(F.col("n") - 4, F.lit(0))
    mins = (
        posed.withColumn("mh", F.min("h").over(wmin))
        .where(full_windows)
    )
    return mins.groupBy("doc_id").agg(
        F.size(F.collect_set("mh")).cast("long").alias("n_fingerprints"),
        F.md5(
            F.concat_ws("|", F.array_sort(F.collect_set("mh")))
        ).alias("fp_digest"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_DOCS = 10
_BM25_QUERY_TERMS = 3


@query(
    "q_bm25_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), qterms AS (
        SELECT term, df FROM dfreq
        ORDER BY df DESC, term LIMIT {_BM25_QUERY_TERMS}
    ), dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ), stats AS (
        SELECT COUNT(*) AS n, AVG(dl) AS avgdl
        FROM dl
    ), parts AS (
        SELECT tf.doc_id,
               ln((stats.n - q.df + 0.5) / (q.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / stats.avgdl)) AS part
        FROM tf JOIN qterms q USING (term)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
    )
    SELECT doc_id, ROUND(SUM(part), 6) AS bm25
    FROM parts GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP_DOCS}
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4+ (r10): BM25 relevance ranking -- the lexical-retrieval
    scorer a curation pipeline uses for contamination screens, seed
    expansion, and quality-by-query filtering (the retrieval half of
    every "find training docs like these benchmark questions" step).
    The query is self-contained and corpus-independent: the 3
    highest-document-frequency terms stand in for a user query, so
    both engines derive identical query terms.

    Plan shape: one exploded token table rebuilt from the pruned scan
    per aggregate (NOT persisted -- r11 PERSIST_AUDIT.json: caching it
    measured no win and leaked corpus-wide postings into the caller's
    session), the query-term table is LIMIT-3 tiny and BROADCAST,
    the per-doc length joins on doc_id, corpus stats are a 1-row
    broadcast cross join, and the final top-10 is TakeOrdered --
    postings-shaped and linear in sum tokens at 100 TB, like
    q_tfidf_top_terms. Scores use the standard smoothed idf
    ln((N-df+0.5)/(df+0.5)+1), k1=1.2, b=0.75, rounded to 6dp before
    the (score, doc_id) order so ranking is bit-stable across
    engines."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = dfreq.orderBy(F.col("df").desc(), "term").limit(_BM25_QUERY_TERMS)
    dl = d.select("doc_id", F.size(tokens(F.col("text"))).alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    )
    part = (
        F.log(
            (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        * F.col("tf") * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", part.alias("part"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOP_DOCS)
    )
