"""Record linkage, CDC merge, and categorical repair (SURVEY sec 2 EXT).

Three operators every warehouse-grade engine ends up needing around
the reference's sync loop (reference pipeline.py:481-568 rebuilds its
Sheets "snapshot" by re-reading everything; these are the incremental
equivalents):

- ``cdc_merge`` / ``q_cdc_apply`` -- apply a change batch (upserts +
  tombstones) onto a keyed snapshot, latest-writer-wins. This is the
  MERGE INTO shape a Delta/Iceberg sink runs per micro-batch.
- ``q_fuzzy_match`` -- blocked Levenshtein linkage over a *vocabulary*
  (distinct values first, then pair within blocks) -- the entity-
  resolution shape that stays linear-ish at 100 TB because pairing
  happens on the deduplicated value table, never the raw rows.
- ``q_mode_impute`` -- per-group modal value with a deterministic
  tie-break, the categorical twin of q_winsorize's numeric repair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load

CDC_CUTOFF = "2024-01-16"


def cdc_merge(snapshot: DataFrame, changes: DataFrame, key_cols: list[str],
              order_cols: list[str], delete_col: str) -> DataFrame:
    """Latest-writer-wins merge of a CDC batch onto a snapshot.

    The max of ``order_cols`` wins across both sides; ``changes``
    rows outrank snapshot rows only at EXACTLY equal ``order_cols``
    (a rewrite of the same version is by definition newer). Keeping
    ``order_cols`` dominant is what makes late-arriving old versions
    harmless: a change row older than the stored version -- including
    a stored tombstone -- loses. Rows whose winning version has
    ``delete_col = true`` are tombstones and drop out entirely; a
    ``snapshot`` that stores them (with ``delete_col``) remembers
    deletions, so a late-arriving older version cannot resurrect a
    deleted key.

    Scale shape: one shuffle on ``key_cols`` (the window), rank=1
    filter inside the window operator -- identical cost to
    q_latest_per_device regardless of how many versions per key. In a
    real deployment this runs per micro-batch inside ``foreachBatch``
    against a transactional table format; the pure-DataFrame form here
    is the semantics those formats implement.
    """
    s = snapshot.withColumn("_src", F.lit(0))
    c = changes.withColumn("_src", F.lit(1))
    merged = s.unionByName(c)
    order = [F.col(o).desc() for o in [*order_cols, "_src"]]
    w = W.partitionBy(*key_cols).orderBy(*order)
    latest = (
        merged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    return latest.where(~F.col(delete_col)).drop(delete_col)


@query(
    "q_cdc_apply",
    oracle=f"""
    WITH versioned AS (
        SELECT user_id, event_type, value, ts,
               (event_type = 'error') AS is_delete,
               (ts >= TIMESTAMP '{CDC_CUTOFF} 00:00:00') AS in_batch,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY (ts >= TIMESTAMP '{CDC_CUTOFF} 00:00:00') DESC,
                            ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, event_type AS last_op,
           ROUND(value, 6) AS last_value,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM versioned WHERE rn = 1 AND NOT is_delete
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot merge with tombstones: events before the cutoff
    form the current snapshot (latest per user), events after it are
    the incoming change batch; 'error' rows are deletes. The merged
    table keeps each user's winning version unless it is a tombstone.

    The reference's record sync re-reads the whole sheet to rebuild
    state (pipeline.py:481-520); this is the O(batch) equivalent.
    """
    ev = load(spark, sf_dir, "events").withColumn(
        "is_delete", F.col("event_type") == "error"
    )
    cutoff = F.lit(CDC_CUTOFF).cast("timestamp")
    snapshot_src = ev.where(F.col("ts") < cutoff)
    batch = ev.where(F.col("ts") >= cutoff)

    # build the "current table" from the pre-cutoff stream, keeping
    # tombstone flags so a user deleted pre-cutoff stays deletable
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    snapshot = (
        snapshot_src.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    merged = cdc_merge(
        snapshot, batch,
        key_cols=["user_id"], order_cols=["ts", "event_id"],
        delete_col="is_delete",
    )
    return merged.select(
        "user_id",
        F.col("event_type").alias("last_op"),
        F.round("value", 6).alias("last_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@query(
    "q_fuzzy_match",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT split_part(p_name, ' ', 1) AS adj,
                        split_part(p_name, ' ', 2) AS noun
        FROM part
    )
    SELECT a.noun, a.adj AS adj_a, b.adj AS adj_b,
           levenshtein(a.adj, b.adj) AS dist
    FROM vocab a JOIN vocab b
      ON a.noun = b.noun AND a.adj < b.adj
    WHERE levenshtein(a.adj, b.adj) <= 2
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy linkage: candidate variant pairs of the part-name
    vocabulary -- distinct (adjective, noun) values, paired within a
    noun block when the adjectives are within Levenshtein distance 2.

    The scale discipline is the order of operations: DISTINCT first
    (vocabulary is ~sqrt-of-corpus or smaller; here 64 values from 2k
    rows, and still only ~millions from 100 TB), THEN the quadratic
    pairing inside tiny blocks. Pairing raw rows would be O(n^2) in
    the corpus; pairing the blocked vocabulary is O(sum of block^2)
    over vocabulary blocks -- the standard entity-resolution blocking
    shape. levenshtein() is JVM codegen in Spark.
    """
    p = load(spark, sf_dir, "part")
    vocab = (
        p.select(
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("adj"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
        )
        .distinct()
    )
    a, b = vocab.alias("a"), vocab.alias("b")
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun")) & (F.col("a.adj") < F.col("b.adj")),
        )
        .where(F.levenshtein(F.col("a.adj"), F.col("b.adj")) <= 2)
        .select(
            F.col("a.noun").alias("noun"),
            F.col("a.adj").alias("adj_a"),
            F.col("b.adj").alias("adj_b"),
            F.levenshtein(F.col("a.adj"), F.col("b.adj")).alias("dist"),
        )
    )


@query(
    "q_mode_impute",
    oracle="""
    WITH counts AS (
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY COUNT(*) DESC, c_nationkey) AS rk
        FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c.c_mktsegment AS segment,
           m.c_nationkey AS mode_nation,
           COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN c.c_nationkey = m.c_nationkey
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_at_mode
    FROM customer c
    JOIN (SELECT c_mktsegment, c_nationkey FROM counts WHERE rk = 1) m
      ON c.c_mktsegment = m.c_mktsegment
    GROUP BY c.c_mktsegment, m.c_nationkey
    """,
)
def q_mode_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group modal value with deterministic tie-break (smallest
    key wins): each market segment's most common nation, plus how many
    of the segment's customers already sit at the mode -- the lookup
    table a categorical-imputation repair pass broadcasts.

    Two-level aggregate: (segment, nation) counts shuffle once, the
    argmax window runs over segment-count rows (tiny), and the final
    join back is a broadcast of the k-row mode table. No raw-row
    window anywhere.
    """
    c = load(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment", "c_nationkey").agg(F.count("*").alias("n"))
    w = W.partitionBy("c_mktsegment").orderBy(F.col("n").desc(), F.col("c_nationkey"))
    modes = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("c_mktsegment", F.col("c_nationkey").alias("mode_nation"))
    )
    return (
        c.join(F.broadcast(modes), "c_mktsegment")
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("mode_nation")
        )
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(
                F.when(F.col("c_nationkey") == F.col("mode_nation"), 1).otherwise(0)
            ).alias("n_at_mode"),
        )
    )
