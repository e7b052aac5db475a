"""Pandas-UDF surface plans (SURVEY.md §2.9 D6/D7), oracle-checked.

These prove the Arrow-batched Python paths compute exactly what the SQL
says — the grouped-map forecast matches SQL regr_slope/regr_intercept, the
scalar-iter "inference" matches a closed-form expression.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
    query,
    sql_round,
    table,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.timeseries import (
    linear_forecast_by_group,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.udf import batch_inference_udf
from pyspark_bigdata_sars_cov_2_analysis_spark.udf.pandas_udfs import (
    mlp_inference_udf,
)


@query(
    "u05_grouped_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT event_type AS key,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    fit AS (
      SELECT key, regr_slope(y, x) AS slope, regr_intercept(y, x) AS icept,
             MAX(x) AS x_max
      FROM daily GROUP BY key
    )
    SELECT key, CAST(step AS BIGINT) AS step,
           {sql_round("icept + slope * (x_max + step)", 3)} AS yhat
    FROM fit CROSS JOIN generate_series(1, 7) t(step)
    """,
)
def u05_grouped_forecast(spark, sf_dir):
    """D6/M8 — grouped-map forecasting: daily event counts per type, OLS
    line per group via applyInPandas, 7-step horizon (the reference's
    per-country Prophet shape, spark/jobs/cases_time_analysis.py:268-306)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type").alias("key"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    return linear_forecast_by_group(daily, "key", "x", "y", horizon=7)


@query(
    "u06_batch_inference",
    oracle=f"""
    SELECT vec_id,
           {sql_round('''1.0 / (1.0 + exp(-(list_aggregate(list_transform(embedding,
                 x -> CAST(x AS DOUBLE)), 'sum') / len(embedding))))''', 6)} AS score
    FROM embeddings
    """,
)
def u06_batch_inference(spark, sf_dir):
    """D7 — SCALAR_ITER batch inference with per-worker model load (the
    reference's Keras predict_batch_udf shape,
    spark/jobs/radiography_analysis.py:306-326); deterministic stand-in
    model = sigmoid(mean(embedding)) so the oracle stays SQL-expressible
    (u07 runs the real-tensor variant)."""
    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", batch_inference_udf("embedding").alias("score"))


_MLP_Z = """
list_aggregate(list_transform(generate_series(0, 7), j ->
  ( ((j*11)%5) - 2 ) * (1.0 - 2.0 / (exp(2.0 * (
    CAST(list_aggregate(list_transform(generate_series(1, len(q)), i ->
        q[i] * ((((i-1)*7 + j*13) % 5) - 2)), 'sum') AS DOUBLE)
    / (32768.0 * sqrt(CAST(len(q) AS DOUBLE)))
    + 0.1 * ((j % 3) - 1) )) + 1.0))
), 'sum') / 8.0 + 0.25
"""


@query(
    "u07_mlp_inference",
    oracle=f"""
    WITH t AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 32768 + 0.5) AS BIGINT)
             ) AS q
      FROM embeddings
    )
    SELECT vec_id, {sql_round(f"1.0 / (1.0 + exp(-({_MLP_Z})))", 6)} AS score
    FROM t
    """,
)
def u07_mlp_inference(spark, sf_dir):
    """D7/M9 — batch inference with REAL tensor compute: a 2-layer MLP
    (int64 matmul → tanh → weighted sum → sigmoid) applied per Arrow
    batch, weights built once per worker. The closest framework-free
    approximation of the reference's DenseNet path
    (spark/jobs/radiography_analysis.py:306-326). The weights are a
    closed integer formula over a 1/32768-quantized input, so the oracle
    recomputes the full forward pass symbolically in SQL (the m05
    integer-oracle trick applied to tensor compute — see
    udf/pandas_udfs._load_mlp for the exactness argument); a driver-side
    numpy golden (tests/test_io_and_ops.py) pins the UDF independently."""
    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", mlp_inference_udf("embedding").alias("score"))


@query(
    "u08_arrow_batch_transform",
    oracle="""
    SELECT vec_id,
           CAST(list_aggregate(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 32768 + 0.5) AS BIGINT)),
             'sum') AS BIGINT) AS qsum
    FROM embeddings
    """,
)
def u08_arrow_batch_transform(spark, sf_dir):
    """D7 — ``mapInArrow``: the RecordBatch-level Arrow entry point (the
    one UDF surface u05/u06/u07 don't cover; no per-batch pandas
    conversion). Worker computes the exact int64 sum of the quantized
    embedding per row — all-integer arithmetic, so the oracle recomputes
    it symbolically with zero float tolerance. The oracle CASTs
    ``list_aggregate(…, 'sum')`` back to BIGINT because DuckDB widens a
    BIGINT-list sum to HUGEINT (Arrow decimal128(38,0)), which the
    driver's hash treats as a different type even when every value is
    identical — the same DECIMAL-vs-BIGINT class o06 hit in round 6."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.udf.pandas_udfs import (
        quantized_sum_arrow,
    )

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(quantized_sum_arrow, "vec_id bigint, qsum bigint")


@query(
    "u09_arrow_scalar_udf",
    oracle="""
    SELECT doc_id,
           (n_chars * 2654435761 + doc_id) % 2147483647 AS py_mix
    FROM documents
    """,
)
def u09_arrow_scalar_udf(spark, sf_dir):
    """D7 family, seventh Python entry point: the Arrow-OPTIMIZED scalar
    UDF (``@udf(..., useArrow=True)``, Spark 4) — row-at-a-time Python
    logic with Arrow transport instead of pickle. Pure-integer mix
    function so the oracle is exact (Python ints and DuckDB BIGINTs
    don't round). Registered as API-surface attestation, NOT a pattern
    endorsement: the engine's policy stands — row Python is banned from
    hot paths (every production path here uses built-ins or batched
    pandas/Arrow UDFs); this entry exists so a user migrating a legacy
    row UDF lands on the fastest row-transport variant, oracle-checked.
    The same expression is a one-line native column op — which is what
    the oracle literally is — so the relational rewrite is self-evident
    from the pair."""
    from pyspark.sql.functions import udf

    @udf("bigint", useArrow=True)
    def py_mix(n_chars: int, doc_id: int) -> int:
        return (n_chars * 2654435761 + doc_id) % 2147483647

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", py_mix("n_chars", "doc_id").alias("py_mix"))


# u13's per-label exact integer aggregate of the quantized embeddings;
# u14's pandas UDAF computes the same numbers
_QSUM_BY_LABEL_SQL = """
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(list_aggregate(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 32768 + 0.5) AS BIGINT)),
             'sum')) AS BIGINT) AS qsum_total
    FROM embeddings GROUP BY label
    """


@query(
    "u13_grouped_arrow",
    oracle=_QSUM_BY_LABEL_SQL,
)
def u13_grouped_arrow(spark, sf_dir):
    """D7-family completion — ``applyInArrow``, the last Python entry
    point without an attested query (u05 covers grouped-map via pandas;
    this is the same shape at the Arrow layer, skipping the pandas
    conversion tax): per-label exact integer aggregate of the quantized
    embeddings, one group shuffle, symbolic SQL oracle (u08's exactness
    argument applied group-wise). Scale note: like all grouped-map ops,
    a group must fit one task — fine for bounded key domains (labels);
    unbounded hot keys belong in plain aggregates instead."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.udf.pandas_udfs import (
        grouped_quantized_stats_arrow,
    )

    e = table(spark, sf_dir, "embeddings")
    return e.groupBy("label").applyInArrow(
        grouped_quantized_stats_arrow,
        schema="label int, n bigint, qsum_total bigint",
    )


@query(
    "u14_pandas_udaf",
    oracle=_QSUM_BY_LABEL_SQL,
)
def u14_pandas_udaf(spark, sf_dir):
    """§2.9 D8 — the grouped-AGGREGATE pandas UDF (UDAF), the last UDF
    entry point: a Series→scalar reduction slotted into a normal
    ``groupBy().agg()``. Same quantized-integer math as u13, so the two
    API paths share one symbolic oracle. The count rides a SECOND pandas
    UDAF because Spark rejects mixing GROUPED_AGG with native aggregate
    functions in one agg (INVALID_PANDAS_UDF_PLACEMENT — this query
    pins the working placement). Scale note in the UDF docstring: no
    map-side combine, so native aggregates stay the hot-key path."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.udf.pandas_udfs import (
        grouped_count_udaf,
        quantized_sum_udaf,
    )

    e = table(spark, sf_dir, "embeddings")
    qsum = quantized_sum_udaf()
    gcount = grouped_count_udaf()
    return e.groupBy("label").agg(
        gcount("embedding").alias("n"),
        qsum("embedding").alias("qsum_total"),
    )


@query(
    "sql08_registered_udf",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) * 2 + 7 AS BIGINT) AS derived
    FROM documents
    """,
)
def sql08_registered_udf(spark, sf_dir):
    """SQL-surface × UDF cross — ``spark.udf.register`` + invocation from
    SQL TEXT: the path SQL-first users extend the engine through (every
    other UDF attestation calls the function object from the DataFrame
    API). The function is Arrow-optimized (u09's row-Python ban holds)
    and integer-exact (2·byte_length + 7) so the oracle is symbolic.
    Registration is idempotent per session; the SQL analyzer resolves
    the name exactly like a builtin."""
    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def byte_feature(s: str) -> int:
        return len(s.encode("utf-8")) * 2 + 7

    spark.udf.register("byte_feature_sql", byte_feature)
    table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udf_v")
    return spark.sql(
        "SELECT doc_id, byte_feature_sql(text) AS derived FROM docs_udf_v"
    )


@query(
    "u15_python_udtf",
    # same struct-comprehension style as d19's oracle; pos is the
    # 1-based token index, length() and Python len() agree on this
    # corpus (single-codepoint characters)
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE doc_id % 20 = 0
    ),
    hits AS (
      SELECT doc_id,
             unnest([{'pos': CAST(i AS INT), 'tok': w[i],
                      'tok_len': CAST(length(w[i]) AS INT)}
                     for i in generate_series(1, len(w))
                     if length(w[i]) >= 8]) AS u
      FROM toks
    )
    SELECT doc_id, u.pos AS pos, u.tok AS tok, u.tok_len AS tok_len
    FROM hits
    """,
)
def u15_python_udtf(spark, sf_dir):
    """D7-family — the Python USER-DEFINED TABLE FUNCTION (Spark 4),
    the one Python entry point that returns ROWS rather than columns:
    a generator class invoked per input row through SQL ``LATERAL``,
    here emitting every ≥8-char token with its 1-based position and
    length. Arrow-batched transport (``useArrow=True``; u09's row-Python
    ban holds — this is an API-surface attestation on a %20-pruned
    slice, not a pattern endorsement: the same semantics are a native
    posexplode+filter, which is literally what f06 attests). The UDTF
    registers idempotently per session and the filter stays INSIDE the
    generator so only matching rows cross the Arrow boundary."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, tok string, tok_len int", useArrow=True)
    class LongTokens:
        def eval(self, text: str):
            if text is None:
                return
            for i, t in enumerate(text.split(" "), start=1):
                if len(t) >= 8:
                    yield i, t, len(t)

    spark.udtf.register("long_tokens_u15", LongTokens)
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0)
    d.createOrReplaceTempView("docs_udtf_v")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.tok, t.tok_len
        FROM docs_udtf_v d, LATERAL long_tokens_u15(d.text) t
        """
    )
