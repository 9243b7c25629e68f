"""Python UDTF surface (SURVEY sec 2.J -- the table-function extension
point).

The engine's UDF story is: native expressions first, Arrow-batched
Pandas kernels where Python is genuinely needed (multimodal codecs,
BLAS assignment), and -- this module -- the **user-defined TABLE
function** for row->rows expansion with per-row Python state, the one
Spark extension point the rest of the engine doesn't exercise. The
reference has no UDTFs either; this is forward surface for engine
users (VERDICT r3 #6).

The demonstrator is a document sentence-splitter that tracks the
running character offset of each sentence -- the span bookkeeping is
naturally stateful per input row (a running cursor), which is exactly
the shape a UDTF expresses more directly than nested
posexplode/aggregate gymnastics. It is registered via
``spark.udtf.register`` and consumed through a LATERAL join.

Arrow note: the UDTF is declared ``useArrow=True`` -- batches cross
the JVM/Python boundary as Arrow record batches, same transfer plane
as the engine's mapInPandas kernels. This stays OFF the hot paths:
every other oracle-checked query remains 100% JVM-side (pinned by
tests/test_plans.py::test_hot_path_has_no_python_udf, which exempts
exactly the sanctioned Python surfaces).

100 TB posture: a UDTF is a map-side flat-map -- no shuffle, output
partitioning follows the input -- so the scale argument is the same
as any explode: it widens rows, it never exchanges them. The Python
boundary costs ~an Arrow serialization per batch; keep UDTFs for
logic that genuinely needs imperative per-row state, not for
anything expressible as built-in generators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load

SENT_SEP = ". "  # literal separator -- same token in Spark and DuckDB


@udtf(
    returnType=(
        "doc_id bigint, sent_idx int, sentence string, "
        "n_words int, char_start bigint"
    ),
    useArrow=True,
)
class SentenceSpans:
    """Split ``text`` on '. ' and emit one row per non-blank sentence
    with its ordinal, word count, and starting character offset.

    The offset cursor advances over blank fragments too (they consume
    characters even though they emit no row) -- that running state is
    what makes this a UDTF rather than a generator expression."""

    def eval(self, doc_id: int, text: str):  # noqa: D102 - UDTF contract
        if text is None:
            return
        pos = 0
        for i, part in enumerate(text.split(SENT_SEP)):
            if part.strip():
                yield doc_id, i, part, len(part.split(" ")), pos
            pos += len(part) + len(SENT_SEP)


@query(
    "q_udtf_sentence_spans",
    oracle=r"""
    WITH parts AS (
        SELECT doc_id, string_split(text, '. ') AS ps FROM documents
    ),
    sent AS (
        SELECT doc_id,
               CAST(i AS INT) AS sent_idx,
               ps[i + 1] AS sentence,
               CAST(COALESCE(list_aggregate(
                        list_transform(ps[1:i], x -> strlen(x)), 'sum'),
                    0) + 2 * i AS BIGINT) AS char_start
        FROM parts, UNNEST(range(len(ps))) AS t(i)
    )
    SELECT doc_id, sent_idx, sentence,
           CAST(len(string_split(sentence, ' ')) AS INT) AS n_words,
           char_start
    FROM sent WHERE length(trim(sentence)) > 0
    """,
)
def q_udtf_sentence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sec 2.J UDTF: sentence spans via a LATERAL join against the
    registered Python table function -- each document row fans out to
    its sentences with running character offsets.

    The oracle reconstructs the offset cursor as a prefix sum over
    the earlier fragments (+2 chars per separator), proving the
    stateful Python expansion is still fully relational semantics."""
    spark.udtf.register("sentence_spans", SentenceSpans)
    load(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT s.doc_id, s.sent_idx, s.sentence, s.n_words, s.char_start
        FROM _udtf_docs d, LATERAL sentence_spans(d.doc_id, d.text) s
        """
    )
