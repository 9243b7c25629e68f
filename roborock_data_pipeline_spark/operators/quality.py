"""Training-data curation operators (SURVEY sec 2.K EXT).

The quality ladder a 100 TB pretraining pipeline runs between raw
scrape and tokenizer: repetition scoring (Gopher-style), stratified
language sampling, test-set contamination detection, PII redaction,
and token-budget batch packing. All per-row work is JVM codegen
(split / array ops / regex); the only shuffles are the contamination
posting join (inverted-index shaped, same as q_near_dup_jaccard) and
the final small aggregates.

Reference parity: the reference has no text corpus at all -- this
family is part of the EXT surface the brief mandates for LLM data
pipelines, exercised on the driver's `documents` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from roborock_data_pipeline_spark.functions.text import shingles, tokens
from roborock_data_pipeline_spark.functions.cache_tracking import track
from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load, spread


@query(
    "q_repetition_ratio",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           ROUND(1.0 - len(list_distinct(toks)) / len(toks), 6) AS dup_word_frac,
           ROUND(1.0 - len(list_distinct(
                     list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i] || ' ' || toks[i + 1])))
                     / (len(toks) - 1), 6) AS dup_bigram_frac
    FROM t
    """,
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-word and
    duplicate-bigram fractions per document.

    Pure per-row array math (split -> array_distinct -> size), no
    explode and no shuffle -- at 100 TB this is a map-only pass that
    rides whatever scan partitioning the input has, and the filter
    that consumes it (`dup_bigram_frac > theta`) fuses into the same
    WholeStageCodegen stage.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    bigrams = shingles(F.col("text"), 2)
    n = F.size(toks).cast("double")
    nb = F.size(bigrams).cast("double")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(1.0 - F.size(F.array_distinct(toks)) / n, 6).alias("dup_word_frac"),
        F.round(1.0 - F.size(F.array_distinct(bigrams)) / nb, 6).alias(
            "dup_bigram_frac"
        ),
    )


@query(
    "q_stratified_sample",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CASE WHEN lang = 'en'
               THEN SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
               ELSE SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
          END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: downsample the dominant
    language (en 1/16) harder than the tail (1/4) -- the standard
    rebalancing step before pretraining mixes.

    Content-hash thresholding (not rand()) keeps the sample identical
    across retries, engines, and partial re-runs; the predicate is a
    scan-level filter, so at 100 TB this costs one map-only pass and
    prunes before any downstream shuffle.
    """
    d = load(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = F.when(F.col("lang") == "en", h == "0").otherwise(
        h.isin("0", "1", "2", "3")
    )
    return d.where(keep).select("doc_id", "lang", "n_chars")


@query(
    "q_contamination",
    oracle="""
    WITH sh AS (
        SELECT doc_id, doc_id % 10 = 0 AS is_test,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 4),
                   i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')
               ))) AS s
        FROM documents
        WHERE len(string_split(text, ' ')) >= 5
    ),
    test AS (SELECT doc_id, s FROM sh WHERE is_test),
    train AS (SELECT DISTINCT s FROM sh WHERE NOT is_test)
    SELECT t.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(tr.s) AS n_contaminated,
           ROUND(COUNT(tr.s) / COUNT(*), 6) AS contamination_rate
    FROM test t LEFT JOIN train tr ON t.s = tr.s
    GROUP BY t.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination: for each held-out document (doc_id %
    10 == 0), the fraction of its distinct 5-gram shingles that also
    appear anywhere in the training split.

    Inverted-index shape, not pairwise: explode each side to
    (shingle, doc) postings, distinct the train side, and equi-join
    on the shingle -- work is sum postings, linear in corpus size, the
    same scale geometry as q_near_dup_jaccard. At 100 TB the join
    key would be xxhash64(shingle) (8-byte shuffle rows) and the
    train-side distinct posting list is built once and reused across
    eval sets; strings are kept here so the DuckDB oracle can check
    exact semantics.
    """
    d = spread(load(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    # persist: both join sides (test postings, train distinct) read
    # this relation -- without it the corpus is scanned and re-shingled
    # twice (no exchange reuse across the filtered branches)
    sh = d.where(F.size(toks) >= 5).select(
        "doc_id",
        (F.col("doc_id") % 10 == 0).alias("is_test"),
        F.explode(F.array_distinct(shingles(F.col("text"), 5))).alias("s"),
    ).persist()
    track(sh)
    test = sh.where("is_test").select("doc_id", "s")
    train = sh.where(~F.col("is_test")).select("s").distinct()
    return (
        test.join(train.withColumn("hit", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
            F.round(F.count("hit") / F.count("*"), 6).alias("contamination_rate"),
        )
    )


@query(
    "q_pii_redact",
    oracle="""
    WITH raw AS (
        SELECT doc_id,
               'user' || doc_id || '@example.com call 555-' ||
                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text
                   AS contact_text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(contact_text, '[a-z0-9]+@[a-z]+\\.[a-z]+'))
               + len(regexp_extract_all(contact_text, '[0-9]{3}-[0-9]{4}'))
               AS n_pii,
           md5(regexp_replace(
                   regexp_replace(contact_text,
                                  '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
                   '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_hash
    FROM raw
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: mask email and phone patterns, count the hits,
    and fingerprint the redacted text.

    The corpus is synthetic word-soup with no real PII, so the query
    first derives a contact line per document (deterministic from
    doc_id) -- the redaction then has non-trivial matches for the
    oracle to verify (md5 of the redacted text proves byte parity).
    Patterns use only char classes so Java regex and RE2 agree.
    Map-only pass: regex_replace is codegen'd JVM work, no shuffle.
    """
    d = load(spark, sf_dir, "documents")
    contact = F.concat(
        F.lit("user"), F.col("doc_id").cast("string"),
        F.lit("@example.com call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "), F.col("text"),
    )
    email = r"[a-z0-9]+@[a-z]+\.[a-z]+"
    phone = r"[0-9]{3}-[0-9]{4}"
    redacted = F.regexp_replace(
        F.regexp_replace(contact, email, "<EMAIL>"), phone, "<PHONE>"
    )
    return d.select(
        "doc_id",
        (
            F.size(F.regexp_extract_all(contact, F.lit(email), F.lit(0)))
            + F.size(F.regexp_extract_all(contact, F.lit(phone), F.lit(0)))
        ).cast("long").alias("n_pii"),
        F.md5(redacted).alias("redacted_hash"),
    )


@query(
    "q_token_buckets",
    oracle="""
    SELECT CAST(FLOOR(log2(len(string_split(text, ' ')))) AS INTEGER) AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY 1
    """,
)
def q_token_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucket histogram (power-of-two token buckets) -- the
    sizing pass before sequence packing: how many docs and tokens
    land in each context-length class.

    Partial aggregation on a handful of bucket keys: map-side
    combine collapses each scan partition to <=~10 rows before the
    exchange, so the shuffle is negligible at any scale.
    """
    d = load(spark, sf_dir, "documents")
    n = F.size(tokens(F.col("text")))
    return (
        d.select(
            F.floor(F.log2(n)).cast("int").alias("bucket"), n.alias("n_tokens")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@query(
    "q_bigram_lm",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> (string_split(text, ' '))[i] || ' ' ||
                        (string_split(text, ' '))[i + 1])) AS bg
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ), c AS (
        SELECT bg, COUNT(*) AS cnt FROM b GROUP BY bg
    ), tot AS (
        SELECT COUNT(*) AS n FROM b
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(ln(c.cnt / tot.n)), 4) AS avg_logp
    FROM b JOIN c USING (bg) CROSS JOIN tot
    GROUP BY b.doc_id
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM fluency score (the KenLM-style
    perplexity filter of pretraining pipelines, self-trained here):
    per document, the mean log-probability of its bigrams under the
    corpus unigram-of-bigrams distribution. Low avg_logp = rare word
    transitions = likely gibberish/boilerplate.

    Two distributed passes over one exploded posting table (persisted):
    (1) count bigram frequencies (map-side partial agg), (2) join each
    doc's postings back to the counts -- inverted-index shape, work
    linear in sum bigrams. At 100 TB the join key becomes
    xxhash64(bigram) (8-byte shuffle rows) and the count table is
    heavy-hitter-truncated + broadcast; strings are kept here so the
    DuckDB oracle can verify exact semantics.
    """
    d = spread(load(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    b = (
        d.where(F.size(toks) >= 2)
        .select("doc_id", F.explode(shingles(F.col("text"), 2)).alias("bg"))
        .persist()
    )
    track(b)
    counts = b.groupBy("bg").agg(F.count("*").alias("cnt"))
    tot = b.agg(F.count("*").alias("n"))
    return (
        b.join(counts, "bg")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("cnt") / F.col("n"))), 4).alias(
                "avg_logp"
            ),
        )
    )


@query(
    "q_global_index",
    oracle="""
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY doc_id) AS global_index
    FROM documents
    """,
)
def q_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row index (stable sample IDs for a training
    corpus) WITHOUT the single-partition global window.

    `ROW_NUMBER() OVER (ORDER BY doc_id)` with no PARTITION BY pulls
    the whole table through one task -- the classic scale-killer. The
    distributed form: (1) one tiny aggregate learns ~equi-depth
    doc_id boundaries (percentile_approx -- same statistics pass AQE
    does); (2) each row gets a range-bucket from pure codegen
    comparisons; (3) per-bucket counts (B rows) turn into exclusive
    prefix offsets with a B-row window; (4) offsets broadcast-join
    back and rows rank only within their bucket. Every stage is
    B-way parallel; no task ever sees more than ~1/B of the data,
    so B scales with the cluster while the oracle semantics stay
    exactly ROW_NUMBER-over-everything.
    """
    d = spread(load(spark, sf_dir, "documents"))
    n_buckets = 16
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = d.select(
        F.percentile_approx("doc_id", fracs, 10000).alias("b")
    ).first()["b"]
    bucket_expr = sum(
        ((F.col("doc_id") > F.lit(int(t))).cast("int") for t in bounds),
        F.lit(0),
    )
    bucketed = d.select("doc_id", bucket_expr.alias("bucket"))
    counts = bucketed.groupBy("bucket").count()
    off_w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = counts.select(
        "bucket", (F.sum("count").over(off_w) - F.col("count")).alias("offset")
    )
    rank_w = Window.partitionBy("bucket").orderBy("doc_id")
    return (
        bucketed.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            (F.col("offset") + F.row_number().over(rank_w)).alias(
                "global_index"
            ),
        )
    )


@query(
    "q_boilerplate_segments",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
        WHERE len(string_split(text, ' ')) >= 5
    ),
    e AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(0, CAST(FLOOR(len(toks) / 5) AS INTEGER) - 1),
                   i -> array_to_string(toks[i * 5 + 1 : i * 5 + 5], ' ')
               )) AS seg
        FROM t
    ),
    f AS (
        SELECT seg FROM e GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3
    )
    SELECT e.doc_id,
           COUNT(*) AS n_segments,
           COUNT(f.seg) AS n_boilerplate,
           ROUND(COUNT(f.seg) / COUNT(*), 6) AS boilerplate_frac
    FROM e LEFT JOIN f ON e.seg = f.seg
    GROUP BY e.doc_id
    """,
)
def q_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate detection: chunk each
    document into non-overlapping 5-token segments, mark segments
    that recur in >= 3 distinct documents (nav bars, footers, license
    headers at web scale), and score each document by its boilerplate
    fraction -- the pre-filter before paragraph-level dedup.

    Inverted-index shape again: explode to (segment, doc) postings,
    count document frequency per segment with a map-side partial agg,
    and left-join the frequent-segment set back onto the postings.
    The postings are NOT persisted: rebuilding the explode for the
    probe side is a second scan of the (column-pruned) documents
    table, which measured ~20% faster than materializing the postings
    at sf0.1 (r4 isolated: 1.49 s vs 1.73 s min-of-4) and avoids
    caching a table larger than its input at 100 TB. The join-back is
    unhinted -- the frequent set's size scales with the corpus's
    boilerplate universe, so broadcast viability is AQE's runtime
    call, not a hint (the Q17 rule). At 100 TB the segment key
    becomes xxhash64(segment) (8-byte shuffle rows); strings are kept
    here so the DuckDB oracle can verify exact semantics.
    """
    d = spread(load(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    nseg = F.floor(F.size(toks) / F.lit(5)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(F.slice(toks, i * 5 + 1, 5), " "),
    )
    e = d.where(F.size(toks) >= 5).select(
        "doc_id", F.explode(segs).alias("seg")
    )
    frequent = (
        e.groupBy("seg")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= 3)
        .select("seg", F.lit(1).alias("hit"))
    )
    return (
        e.join(frequent, "seg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.count("hit").alias("n_boilerplate"),
            F.round(F.count("hit") / F.count("*"), 6).alias("boilerplate_frac"),
        )
    )


@query(
    "q_boilerplate_strip",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    b AS (
        SELECT doc_id, toks,
               CAST(FLOOR(len(toks) / 5) AS INTEGER) AS nseg
        FROM t
    ),
    e AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(0, nseg - 1),
                   i -> {'pos': i,
                         'seg': array_to_string(toks[i * 5 + 1 : i * 5 + 5], ' ')}
               )) AS u
        FROM b
    ),
    e2 AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM e),
    f AS (
        SELECT seg FROM e2 GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3
    ),
    kept AS (
        SELECT e2.doc_id, e2.pos, e2.seg
        FROM e2 LEFT JOIN f ON f.seg = e2.seg
        WHERE f.seg IS NULL
    ),
    agg AS (
        SELECT doc_id,
               string_agg(seg, ' ' ORDER BY pos) AS kept_txt,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           concat_ws(' ', agg.kept_txt,
                     NULLIF(array_to_string(toks[nseg * 5 + 1 : len(toks)], ' '),
                            '')) AS clean_text,
           COALESCE(agg.n_kept, 0) AS n_kept,
           CAST(b.nseg - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_dropped
    FROM b LEFT JOIN agg ON agg.doc_id = b.doc_id
    """,
)
def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL -- the rewrite step after
    q_boilerplate_segments's detection: drop every 5-token segment
    that recurs in >= 3 distinct documents and reassemble each
    document's remaining segments IN ORDER (plus the <5-token tail
    the segmenter can't cover). This is the C4/RefinedWeb "remove
    repeated lines across the corpus" pass, order-preserving.

    Same inverted-index skeleton as the detector -- posting explode,
    document-frequency count, tiny frequent set -- but the join-back
    is a LEFT ANTI (drop hits) and the reassembly is a sort-free
    collect: segments carry their position, array_sort on the
    (pos, seg) struct restores order INSIDE each group without a
    window or a second exchange (collect_list + array_sort is
    partial-agg friendly; a Window.orderBy here would add a sort
    exchange per doc). One doc_id shuffle for the regroup, one seg
    shuffle for the frequency count; the frequent set broadcasts.
    At 100 TB the anti-join key becomes xxhash64(seg), same as the
    detector."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    base = d.select(
        "doc_id",
        toks.alias("toks"),
        F.floor(F.size(toks) / F.lit(5)).cast("int").alias("nseg"),
    )
    segs = F.transform(
        F.sequence(F.lit(0), F.col("nseg") - 1),
        lambda i: F.array_join(F.slice(F.col("toks"), i * 5 + 1, 5), " "),
    )
    # NOT persisted (r15, PERSIST_AUDIT.json two-model re-audit with
    # alternating arm order + 5 no-persist control queries): the r14
    # cache measured as a WARM-model loss in both r15 runs
    # (nopersist/persist 0.834 and 0.919 -- recomputing the explode
    # beats paying cache build + memory for it) and cold-neutral
    # (1.011/0.938 vs a +-17% cold control band). The r14 win was
    # measured before the audit interleaved arms and alternated
    # order; today's evidence says drop it.
    e = base.where(F.col("nseg") >= 1).select(
        "doc_id", F.posexplode(segs).alias("pos", "seg")
    )
    frequent = (
        e.groupBy("seg")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= 3)
        .select("seg")
    )
    kept = e.join(F.broadcast(frequent), "seg", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("kept_txt"),
        F.count("*").alias("n_kept"),
    )
    tail_len = F.size(F.col("toks")) - F.col("nseg") * 5
    tail_txt = F.array_join(
        F.slice(F.col("toks"), F.col("nseg") * 5 + 1, 1_000_000), " "
    )
    # NULLIF semantics, matching the oracle: an all-empty-token tail
    # joins to '' and must vanish, not leave a trailing separator in
    # concat_ws (divergence on trailing/double-space text)
    tail = F.when((tail_len > 0) & (tail_txt != ""), tail_txt)
    return (
        base.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("kept_txt"), tail).alias("clean_text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            (F.col("nseg").cast("long") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_dropped"
            ),
        )
    )


# Stopword probe list for the Gopher-style gate (kept tiny: the
# corpus is synthetic word soup; real deployments swap in the usual
# ~50-word list).
_STOPWORDS = ["the", "and", "of", "a", "in", "to", "is"]


@query(
    "q_gopher_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           ROUND(CAST(list_aggregate(list_transform(toks, x -> len(x)), 'sum')
                      AS DOUBLE) / len(toks), 4) AS mean_token_len,
           ROUND(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$')))
                     / CAST(len(toks) AS DOUBLE), 4) AS alpha_frac,
           len(list_intersect(toks, {_STOPWORDS!r})) > 0 AS has_stopword,
           (len(toks) BETWEEN 10 AND 100000
            AND ROUND(CAST(list_aggregate(list_transform(toks, x -> len(x)), 'sum')
                           AS DOUBLE) / len(toks), 4) BETWEEN 2 AND 12
            AND ROUND(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$')))
                          / CAST(len(toks) AS DOUBLE), 4) >= 0.7
            AND len(list_intersect(toks, {_STOPWORDS!r})) > 0) AS pass_gate
    FROM t
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021, sec A1.1):
    token-count bounds, mean-token-length window, alphabetic-token
    fraction, and stopword presence, combined into one pass/fail
    flag. The boolean gate is computed on the ROUNDED signals in both
    engines so float boundary noise can never flip it.

    Pure per-row array math (split -> HOF filter/aggregate), no
    explode, no shuffle: at 100 TB this is a map-only codegen pass
    and the gate predicate fuses into the consuming filter stage.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    len_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mean_len = F.round(len_sum.cast("double") / n, 4)
    alpha = F.round(
        F.size(F.filter(toks, lambda x: x.rlike("^[a-z]+$"))) / n.cast("double"),
        4,
    )
    has_stop = F.arrays_overlap(
        toks, F.array(*[F.lit(s) for s in _STOPWORDS])
    )
    gate = (
        n.between(10, 100000)
        & mean_len.between(2, 12)
        & (alpha >= 0.7)
        & has_stop
    )
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        alpha.alias("alpha_frac"),
        has_stop.alias("has_stopword"),
        gate.alias("pass_gate"),
    )


@query(
    "q_temperature_sample",
    oracle="""
    WITH lc AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    tot AS (
        SELECT CAST(SUM(n_lang) AS DOUBLE) AS n_total,
               SUM(sqrt(n_lang)) AS w_total
        FROM lc
    ),
    r AS (
        SELECT lang,
               LEAST(CAST(4 AS BIGINT), GREATEST(CAST(1 AS BIGINT),
                   CAST(CEIL(n_total * sqrt(n_lang) / w_total / n_lang)
                        AS BIGINT))) AS rep
        FROM lc CROSS JOIN tot
    )
    SELECT d.doc_id, d.lang, r.rep,
           unnest(generate_series(CAST(1 AS BIGINT), r.rep)) AS copy_id
    FROM documents d JOIN r ON d.lang = r.lang
    """,
)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (the multilingual
    mixing step of mT5/XLM-R pipelines, alpha = 0.5): each language's
    target share is proportional to sqrt(its natural share), realised
    as an integer per-document repeat factor (capped at 4x), and
    documents are replicated rep times with a copy_id.

    Two tiny aggregates (per-language counts, then one global total)
    broadcast back onto the corpus -- the fact table never shuffles;
    replication is a codegen explode(sequence(1, rep)). CEIL (not
    ROUND) keeps the factor engine-portable: Spark HALF_UP vs Python
    banker's rounding can never disagree on a ceiling.
    """
    d = load(spark, sf_dir, "documents")
    lc = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    tot = lc.agg(
        F.sum("n_lang").cast("double").alias("n_total"),
        F.sum(F.sqrt("n_lang")).alias("w_total"),
    )
    rep = (
        lc.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.least(
                F.lit(4).cast("long"),
                F.greatest(
                    F.lit(1).cast("long"),
                    F.ceil(
                        F.col("n_total") * F.sqrt("n_lang")
                        / F.col("w_total") / F.col("n_lang")
                    ),
                ),
            ).alias("rep"),
        )
    )
    return (
        d.join(F.broadcast(rep), "lang")
        .select(
            "doc_id",
            "lang",
            "rep",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("rep"))).alias(
                "copy_id"
            ),
        )
    )


@query(
    "q_heavy_hitters",
    oracle="""
    SELECT t AS token, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
    GROUP BY t
    ORDER BY cnt DESC, t
    LIMIT 20
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 tokens via SpaceSaving-style candidate
    pruning + exact recount -- the vocabulary/heavy-hitter pass of
    tokenizer training.

    A naive groupBy(token) shuffles one row per distinct token per
    scan partition; at web scale (billions of distinct tokens/URLs)
    that shuffle dwarfs the answer. Instead: (1) an Arrow-batched
    per-partition SpaceSaving sketch (mapInPandas, vectorized
    value_counts) emits only each partition's top-M candidates --
    shuffle bounded at P x M rows regardless of vocabulary size; (2)
    the candidate set (<= P x M, deduped) broadcasts back for an
    exact recount, so reported counts are exact. A token is missed
    only if it is outside the top-M of EVERY partition, which bounds
    its global count below P x (M-th local count) -- with M >> k the
    standard SpaceSaving union guarantee; at test SF the vocabulary
    is far smaller than M, so the result is exactly the oracle's.
    The sketch phase is the sanctioned Arrow-batch pattern (same as
    multimodal decode), not a row-at-a-time Python UDF.
    """
    d = spread(load(spark, sf_dir, "documents"))

    def topm(batches):
        import pandas as pd

        counts: dict[str, int] = {}
        for pdf in batches:
            vc = pdf["text"].str.split(" ").explode().value_counts()
            for tok, c in vc.items():
                counts[tok] = counts.get(tok, 0) + int(c)
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
        yield pd.DataFrame(top, columns=["token", "est"])

    cand = (
        d.select("text")
        .mapInPandas(topm, "token string, est long")
        .select("token")
        .distinct()
    )
    exact = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    return exact.orderBy(F.col("cnt").desc(), "token").limit(20)


@query(
    "q_batch_pack",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tokens) / 2000.0)
                AS BIGINT) AS batch_id
    FROM t
    """,
)
def q_batch_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget batch packing: assign documents to ~2000-token
    training batches per language, by token-offset chunking (batch =
    floor(exclusive-prefix-sum / budget)).

    Offset chunking is the scalable stand-in for greedy bin packing:
    a prefix sum is one window pass, deterministic under retries, and
    at 100 TB it partitions by (lang, day) so no single window spans
    the corpus -- true greedy packing is inherently sequential and
    does not distribute.
    """
    d = load(spark, sf_dir, "documents")
    n = F.size(tokens(F.col("text")))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select("doc_id", "lang", n.alias("n_tokens")).withColumn(
        "batch_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2000.0).cast(
            "long"
        ),
    )


@query(
    "q_reservoir_sample",
    oracle="""
    SELECT doc_id, lang, rk FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    ) WHERE rk <= 5
    """,
)
def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed reservoir sampling, k=5 per language, as bottom-k
    by uniform hash: ranking every row by md5(id) and keeping the k
    smallest IS a uniform k-sample, and unlike the classic
    single-pass reservoir it is mergeable -- each partition keeps its
    local bottom-k and the merge keeps the global bottom-k, which is
    exactly what Spark's partial TakeOrdered/window machinery does.
    Deterministic under retries (hash order, id tie-break), unlike
    rand()-based sampling.

    At 100 TB: per-partition bottom-k partial aggregation means the
    shuffle carries k rows per (partition, lang), never the corpus.
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
    )


@query(
    "q_train_split",
    oracle="""
    WITH h AS (
        SELECT doc_id, n_chars,
               (doc_id * 2654435761) % 4294967296 AS hv
        FROM documents
    )
    SELECT CASE WHEN hv < 0.8 * 4294967296 THEN 'train'
                WHEN hv < 0.9 * 4294967296 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM h GROUP BY 1
    """,
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by Knuth
    multiplicative hash of the document id -- the split that stays
    stable as the corpus grows (a doc's split never changes when new
    docs arrive, unlike percentile- or rand()-based splits) and needs
    no shuffle to assign: the hash is a map-side expression, and only
    the tiny per-split summary aggregates.

    Engine-portable on purpose: plain modular arithmetic, so the
    oracle (and any downstream consumer in another engine) computes
    the identical assignment.
    """
    d = load(spark, sf_dir, "documents")
    hv = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    split = (
        F.when(hv < 0.8 * 4294967296, "train")
        .when(hv < 0.9 * 4294967296, "val")
        .otherwise("test")
    )
    return (
        d.select("doc_id", "n_chars", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "q_weighted_sample",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               POWER((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                           AS UBIGINT) + 1) / 4294967296.0,
                     1.0 / n_chars) AS k,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY POWER((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                        AS UBIGINT) + 1) / 4294967296.0,
                                  1.0 / n_chars) DESC, doc_id) AS rk
        FROM documents
    )
    SELECT doc_id, lang, rk FROM keyed WHERE rk <= 3
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis-Spirakis A-Res): each
    doc draws key u^(1/w) from a deterministic uniform u (md5 of its
    id) with weight w = n_chars; the top-k keys per language are a
    without-replacement sample where inclusion probability scales
    with document length -- the standard long-document-upweighted
    corpus draw.

    Same mergeable bottom/top-k scale shape as q_reservoir_sample
    (partial top-k per partition, k rows per stratum through the
    shuffle), and deterministic under retries because u is a hash,
    not rand(). Engine-portable: the oracle computes the identical
    keys from the identical md5.
    """
    d = load(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double") + 1.0
    ) / F.lit(4294967296.0)
    key = F.pow(u, 1.0 / F.col("n_chars"))
    w = Window.partitionBy("lang").orderBy(F.desc(key), F.col("doc_id"))
    return (
        d.select("doc_id", "lang", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "lang", "rk")
    )


@query(
    "q_token_entropy",
    oracle="""
    WITH t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cnt AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2
    ),
    tot AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM cnt GROUP BY 1
    )
    SELECT cnt.doc_id,
           tot.n AS n_tokens,
           tot.n_distinct,
           ROUND(-SUM((c / CAST(n AS DOUBLE))
                      * LOG2(c / CAST(n AS DOUBLE))), 6) AS entropy_bits,
           ROUND(-SUM((c / CAST(n AS DOUBLE))
                      * LOG2(c / CAST(n AS DOUBLE)))
                 / LOG2(GREATEST(n_distinct, 2)), 6) AS entropy_norm
    FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id
    GROUP BY cnt.doc_id, tot.n, tot.n_distinct
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per document -- the information-density
    quality signal between Gopher's ratio gates and the bigram-LM
    fluency score: near-zero entropy flags degenerate repetition
    (the same tokens over and over), entropy_norm ~1 flags
    every-token-unique word salad; natural text sits between.

    One explode + two keyed aggregates, both on doc_id (token counts
    key on (doc_id, token) -- a superset of doc_id, so the second
    aggregate reuses the first exchange's co-location): map-side
    partial counts collapse repeated tokens before the shuffle, the
    entropy sum is pure codegen arithmetic, and normalization uses
    log2(distinct) with a floor of 2 so single-token docs land at 0
    rather than dividing by log2(1)=0."""
    d = spread(load(spark, sf_dir, "documents"))
    cnt = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_distinct")
    )
    p = F.col("c") / F.col("n").cast("double")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id", "n", "n_distinct")
        .agg(
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
            F.round(
                -F.sum(p * F.log2(p))
                / F.log2(F.greatest(F.col("n_distinct"), F.lit(2)).cast("double")),
                6,
            ).alias("entropy_norm"),
        )
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            "n_distinct",
            "entropy_bits",
            "entropy_norm",
        )
    )


@query(
    "q_pareto_sources",
    oracle="""
    WITH st AS (
        SELECT lang, source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1, 2
    ),
    ranked AS (
        SELECT lang, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang) AS lang_total,
               SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY n_tokens DESC, source
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM st
    )
    SELECT lang, source, n_tokens,
           ROUND(cum_tokens / CAST(lang_total AS DOUBLE), 6) AS cum_share
    FROM ranked
    WHERE cum_tokens - n_tokens < 0.9 * lang_total
    """,
)
def q_pareto_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus-style coverage selection: per language, the smallest
    prefix of sources (by token volume, deterministic ties) that
    reaches 90% of the language's tokens -- the mix-analysis question
    ("which sources do we actually depend on?") and the top-p pattern
    applied to corpus composition. A source is kept iff the
    cumulative total BEFORE it is still under the threshold, so the
    boundary source that crosses 90% is included and selection is
    prefix-closed.

    Two-level shape: the token sums aggregate to (lang x source)
    cardinality FIRST -- windows run over that tiny relation, never
    over documents. Both windows share the lang partition key (one
    exchange); the threshold compares integer token counts against
    0.9*total computed from the SAME cumulative sum, so no float
    boundary drift between engines."""
    d = load(spark, sf_dir, "documents")
    st = d.groupBy("lang", "source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens")
    )
    w_total = Window.partitionBy("lang")
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_tokens").desc(), "source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = st.select(
        "lang",
        "source",
        "n_tokens",
        F.sum("n_tokens").over(w_total).alias("lang_total"),
        F.sum("n_tokens").over(w_cum).alias("cum_tokens"),
    )
    return ranked.where(
        (F.col("cum_tokens") - F.col("n_tokens"))
        < 0.9 * F.col("lang_total")
    ).select(
        "lang",
        "source",
        "n_tokens",
        F.round(
            F.col("cum_tokens") / F.col("lang_total").cast("double"), 6
        ).alias("cum_share"),
    )


SOURCE_CAP = 15  # max docs kept per source

# shared by q_source_cap AND q_source_cap_two_phase: the two-phase
# scale form must reproduce the exact window's rows verbatim
_SOURCE_CAP_ORACLE = f"""
    WITH q AS (
        SELECT doc_id, source,
               ROUND(0.5 * LEAST(len(string_split(text, ' ')) / 50.0, 1.0)
                     + 0.5 * (CAST(len(list_distinct(string_split(text, ' ')))
                                   AS DOUBLE)
                              / len(string_split(text, ' '))), 4) AS quality
        FROM documents
    ), r AS (
        SELECT doc_id, source, quality,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id) AS src_rank
        FROM q
    )
    SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank, quality
    FROM r WHERE src_rank <= {SOURCE_CAP}
    """


@query("q_source_cap", oracle=_SOURCE_CAP_ORACLE)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT (curation ladder): per-source document cap -- the domain
    capping every web-corpus pipeline applies so no single domain
    dominates the training mix (the C4/Gopher "top-k per domain"
    rule). Keeps the best ``SOURCE_CAP`` docs per source by the
    shared quality scalar, tie-broken by doc_id for determinism.

    Scale: the window partitions by source, which is the one column
    a web corpus is guaranteed to skew on (a big domain = a big
    partition). The exact row_number form here is right while
    per-source cardinality fits a partition; past that,
    ``source_cap_two_phase`` keeps the same semantics at 100 TB (see
    below -- VERDICT r5 #6 shipped it). AQE skew-join/partition
    splitting (pinned in test_skew) is the runtime backstop either
    way."""
    from roborock_data_pipeline_spark.operators.text import q_quality_score

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    quality = q_quality_score(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        docs.join(quality, "doc_id")
        .withColumn("src_rank", F.row_number().over(w).cast("long"))
        .where(F.col("src_rank") <= SOURCE_CAP)
        .select("doc_id", "source", "src_rank", "quality")
    )


SOURCE_CAP_GRID = 1000  # quality-histogram buckets for the threshold


def source_cap_two_phase(
    docs_quality: DataFrame, cap: int = SOURCE_CAP, grid: int = SOURCE_CAP_GRID
) -> DataFrame:
    """VERDICT r5 #6: the two-phase form of the per-source cap for
    skewed domains -- EXACTLY the q_source_cap result, without ever
    shuffling a whole mega-domain into one window partition.

    Phase 1 (approx quantile, broadcast): a fixed-width histogram of
    the quality scalar per source (``grid`` buckets over [0,1], one
    narrow partial-aggregated groupBy), cumulated top-down to find
    each source's threshold bucket -- the highest bucket at which at
    least ``cap`` docs sit at-or-above. |sources| x 1 rows, broadcast.

    Phase 2 (scan filter + boundary window): the corpus scan keeps
    only rows whose bucket >= the source's threshold (sources smaller
    than the cap have no threshold row -- kept wholesale via the null
    coalesce), and the exact row_number window runs on that sliver.

    Equivalence argument: every dropped row's bucket is strictly
    below the threshold bucket, so its quality is strictly below
    every kept row's of the same source (equal qualities share a
    bucket) -- ordering between kept rows is untouched and the top
    ``cap`` all sit at-or-above the threshold by construction, so the
    sliver's row_number equals the full window's for every surviving
    row. The sliver is ~cap + n/grid rows per source: a 10^9-doc
    domain windows ~10^6 rows instead of 10^9. The bucket expression
    is reused verbatim in both phases so float rounding can never
    disagree across them."""
    bucket = F.least(
        F.floor(F.col("quality") * grid), F.lit(grid - 1)
    ).cast("int")
    hist = docs_quality.groupBy(
        "source", bucket.alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    thresholds = (
        hist.withColumn("cum", F.sum("cnt").over(w_cum))
        .where(F.col("cum") >= cap)
        .groupBy("source")
        .agg(F.max("bucket").alias("thr_bucket"))
    )
    sliver = docs_quality.join(
        F.broadcast(thresholds), "source", "left"
    ).where(bucket >= F.coalesce(F.col("thr_bucket"), F.lit(0)))
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        sliver.withColumn("src_rank", F.row_number().over(w).cast("long"))
        .where(F.col("src_rank") <= cap)
        .select("doc_id", "source", "src_rank", "quality")
    )


@query("q_source_cap_two_phase", oracle=_SOURCE_CAP_ORACLE)
def q_source_cap_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: the scale path of q_source_cap, oracle-checked against
    the SAME exact-window SQL -- the two-phase threshold + boundary
    window must reproduce the exact result row-for-row (equivalence
    argument in source_cap_two_phase)."""
    from roborock_data_pipeline_spark.operators.text import q_quality_score

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    quality = q_quality_score(spark, sf_dir).select("doc_id", "quality")
    return source_cap_two_phase(docs.join(quality, "doc_id"))


# A shingle appearing in more documents than this is boilerplate, not
# novelty -- its contribution is 0 BY DEFINITION (nothing seen in >10k
# docs is "new content"), and excluding it from the first-occurrence
# table bounds the postings-join fan-out: without the cap a viral
# boilerplate shingle (df >> 10^4) back-fans every one of its
# occurrences through the join -- the same skew exposure the
# boilerplate/contamination queries mitigate by df-thresholding
# (VERDICT r11 "what's wrong #2"). The cap never binds at test SFs
# (< 10k docs total); the K-semantics are encoded identically in the
# oracle so parity holds at any SF.
NOVELTY_DF_CAP = 10_000


def ngram_novelty(docs: DataFrame, df_cap: int = NOVELTY_DF_CAP) -> DataFrame:
    """Per-document n-gram novelty over (doc_id, text) with the df-cap
    parameterized (unit tests exercise the cap with a tiny K; the
    registered query uses NOVELTY_DF_CAP)."""
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(shingles(F.col("text"), 3), lambda s: F.xxhash64(s))
            )
        ).alias("sh"),
    )
    # first-occurrence table FILTERED under the join: shingles past
    # the df cap are dropped here, so the join fan-out on any key is
    # bounded by df_cap and a viral key never back-fans
    first = (
        sh.groupBy("sh")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.count("*").alias("df"),
        )
        .where(F.col("df") <= df_cap)
        .select("sh", "first_doc")
    )
    # LEFT join: n_shingles still counts every distinct shingle; a
    # capped-out shingle simply contributes 0 novelty (null first_doc
    # fails the equality and falls to otherwise(0))
    return (
        sh.join(first, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.round(
                F.sum(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1)
                    .otherwise(0)
                ).cast("double")
                / F.count("*"),
                4,
            ).alias("novelty"),
        )
    )


@query(
    "q_ngram_novelty",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), t AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 1) + 1),
                   i -> array_to_string(w[i:i+2], ' ')))) AS sh
        FROM d
    ), f AS (
        SELECT sh, MIN(doc_id) AS first_doc FROM t GROUP BY 1
        HAVING COUNT(*) <= {NOVELTY_DF_CAP}
    )
    SELECT t.doc_id,
           COUNT(*)::BIGINT AS n_shingles,
           ROUND(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0
                     END)::DOUBLE / COUNT(*), 4) AS novelty
    FROM t LEFT JOIN f USING (sh)
    GROUP BY 1
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4+ (r11): per-document n-gram novelty -- the fraction of a
    doc's distinct 3-shingles whose EARLIEST corpus occurrence (min
    doc_id, the ingest-order proxy) is the doc itself. The curation
    signal behind "how much new content does this doc add": ~0 for a
    late near-copy (winnow/minhash find the pair; novelty quantifies
    the residue), ~1 for genuinely fresh text -- the marginal-utility
    ordering used for curriculum construction and incremental-corpus
    pruning (what RefinedWeb-style pipelines compute as "fraction of
    previously unseen n-grams").

    Plan shape (inverted index, like every shingle op here): one
    distinct-shingle explode, a min-groupBy over shingles (partial
    agg -- first-occurrence table is vocabulary-sized) with the
    NOVELTY_DF_CAP filter sitting UNDER the join (r12: a viral
    boilerplate shingle cannot back-fan its df^2 occurrences -- it is
    dropped from the first-occurrence side, contributing 0 novelty by
    definition), a shingle-keyed postings LEFT join back (fan-out
    bounded by the cap), and a per-doc conditional-count agg. Linear
    in sum shingles; the shuffle carries (hash, doc_id) longs only --
    shingles are xxhash64'd for the join/groupBy identity (collision
    odds ~|shingles|^2/2^64, far below oracle resolution), exactly the
    q_near_dup_jaccard discipline."""
    return ngram_novelty(spread(load(spark, sf_dir, "documents")))
