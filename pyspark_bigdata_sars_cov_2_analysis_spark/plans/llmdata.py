"""LLM-data-pipeline plans: dedup, similarity search, multimodal (oracle-checked).

The Spark implementations live in :mod:`..llmdata`; the oracles replicate
the exact same md5-based hash families in DuckDB SQL, so the hash-compare
verifies the *algorithm*, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.io.writers import (
    _latest_manifest,
    _local_path,
    compact_parquet_snapshot,
    delete_from_snapshot,
    list_parquet_snapshots,
    read_parquet_snapshot,
    snapshot_changes,
    streaming_snapshot_sink,
    vacuum_parquet_snapshots,
    write_parquet_snapshot,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import (
    dedup,
    multimodal,
    similarity,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.fragments import (
    DUCK_NORM,
    GRAMS_CTES,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
    drain,
    pround,
    query,
    scratch_dir,
    sql_round,
    table,
    tracked_cache,
    write_ordered_files,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.text import _QUALITY_EXPR

# the text normalization every text/dedup oracle shares
_NORM = DUCK_NORM

# word 3-shingles, distinct, per doc — shared CTE text for dedup oracles
_SHINGLES_CTE = f"""
  toks AS (
    SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
  ),
  sh AS (
    SELECT doc_id,
           unnest(list_distinct(
             [array_to_string(w[i:i+2], ' ')
              for i in generate_series(1, len(w) - 2)])) AS shingle
    FROM toks WHERE len(w) >= 3
  )
"""


# d03's inverted-index join over an sh(doc_id, shingle) CTE: each doc's
# shingle count and each sharing pair's overlap — never all-pairs
_OVERLAP_CTES = """sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


@query(
    "d01_exact_dedup",
    oracle=f"""
    SELECT md5({_NORM}) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def d01_exact_dedup(spark, sf_dir):
    """Exact dedup via md5-fingerprint groupBy (shuffle key = 32-byte hash,
    never the document text)."""
    d = table(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d, "doc_id", "text")


# MinHash seed j = 8-hex chunk (j % 4) of md5(shingle || '#' || (j // 4)),
# parsed as an unsigned 32-bit int — identical family in the Spark
# implementation (12 seeds from 3 md5 calls; integer min).
_MH_SQL = {
    j: (
        f"list_min(list_transform(s, x -> CAST(CAST('0x' || "
        f"substr(md5(x || '#{j // 4}'), {8 * (j % 4) + 1}, 8) AS UBIGINT) "
        f"AS BIGINT)))"
    )
    for j in range(12)
}
def _bands_sql(batch: str = "") -> str:
    """The 4-band UNION ALL over the ``mh`` CTE, carrying the arrival
    batch column ``batch`` when one is given. Defined once here, beside
    the MinHash family that is its only user, so a num_hashes/band_rows
    change reaches every MinHash oracle (d02/d07/d11/d13/d24/d25 and the
    batch-carrying d20/d22) at once; an oracle fragment that plan modules
    other than this one use goes in :mod:`.fragments`."""
    carry = f"{batch}, " if batch else ""
    return "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {carry}{b} AS band, concat_ws(',', "
        + ", ".join(f"mh_{j}" for j in range(3 * b, 3 * b + 3))
        + ") AS band_sig FROM mh"
        for b in range(4)
    )


def _minhash_ctes(batch: str = "") -> str:
    """``shl → mh → bands`` over a ``toks(doc_id, w)`` CTE: the 3-word
    shingle lists, the 12 min-hashes and the 4 bands, carrying the
    arrival batch column ``batch`` through each step when one is given
    (d20/d22)."""
    carry = f", {batch}" if batch else ""
    mh = ", ".join(f"{sql} AS mh_{j}" for j, sql in _MH_SQL.items())
    return f"""shl AS (
      SELECT doc_id{carry},
             [array_to_string(w[i:i+2], ' ')
              for i in generate_series(1, len(w) - 2)] AS s
      FROM toks WHERE len(w) >= 3
    ),
    mh AS (
      SELECT doc_id{carry},
             {mh}
      FROM shl
    ),
    bands AS (
{_bands_sql(batch)}
    )"""


# the normalized word list the MinHash and 5-shingle oracles start from
_TOKS_CTE = f"""toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
    )"""

# d02's candidate generation: toks → shl → mh → bands
_MINHASH_CTES = f"""{_TOKS_CTE},
    {_minhash_ctes()}"""

# d07's connected components over d02's candidate pairs: prs → edges →
# reach, the transitive closure (the consumer says WITH RECURSIVE)
_CLOSURE_CTES = f"""{_MINHASH_CTES},
    prs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e
        ON r.dst = e.src AND e.dst <> r.src
    )"""

# d09's distinct word 5-shingles per doc (w[i:i+4] is inclusive slicing)
_SH5_CTES = f"""{_TOKS_CTE},
    sh5 AS (
      SELECT doc_id,
             unnest(list_distinct(
               [array_to_string(w[i:i+4], ' ')
                for i in generate_series(1, len(w) - 4)])) AS shingle
      FROM toks WHERE len(w) >= 5
    )"""

# d10's keep-best argmax over a scored(fp, doc_id, q) CTE, and the head
# of its keeper projection
_KEEP_BEST_SQL = """r AS (
      SELECT fp, doc_id, q,
             row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY fp) AS n_copies
      FROM scored
    )
    SELECT fp, doc_id AS keeper, q AS best_quality,
           CAST(n_copies AS BIGINT) AS n_copies"""


@query(
    "d02_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
    WHERE a.doc_id < b.doc_id
    """,
)
def d02_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates: 3-word shingles, 12 md5-family
    min-hashes, 4 bands × 3 rows (s-curve threshold ≈ 0.63 Jaccard)."""
    d = table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d, "doc_id", "text", k=3, num_hashes=12, band_rows=3
    )


@query(
    "d07_dup_clusters",
    # connected components of the d02 pair graph by recursive transitive
    # closure (bounded: near-dup components are small cliques); cluster
    # label = min doc_id reachable
    oracle=f"""
    WITH RECURSIVE {_CLOSURE_CTES}
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def d07_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: the d02 candidate pairs resolved into connected
    components by iterative min-label propagation — the step that turns
    pairwise dedup output into keep-one-per-cluster decisions (keeper =
    row where doc_id == cluster_id). Oracle computes the same components
    via a recursive-CTE transitive closure."""
    d = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, "doc_id", "text", k=3, num_hashes=12, band_rows=3)
    return dedup.dup_clusters(pairs)


@query(
    "d25_cluster_size_audit",
    # d07's _CLOSURE_CTES, aggregated twice: per cluster -> size, per
    # size -> histogram. removable = (size-1) per cluster: the docs a
    # keep-one-per-cluster pass would drop.
    oracle=f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    lab AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    cs AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size
      FROM lab GROUP BY cluster_id
    )
    SELECT size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((size - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM cs GROUP BY size
    """,
)
def d25_cluster_size_audit(spark, sf_dir):
    """Dedup CLUSTER-SIZE audit (r10) — d07's components aggregated into
    the histogram you read before running keep-one-per-cluster: how many
    near-dup clusters exist at each size, how many documents they hold,
    and how many a dedup pass would remove (``size−1`` per cluster).
    "80% of removable mass sits in 2-doc clusters" vs "one 500-doc
    boilerplate cluster dominates" are different pipeline problems —
    this is the report that distinguishes them. Two tiny aggregations
    over d07's (id, label) frame; all the heavy lifting (signatures,
    buckets, label propagation) is the already-adjudicated d07
    machinery, so the audit adds one cluster-keyed and one size-keyed
    shuffle over cluster-count-sized frames."""
    d = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", k=3, num_hashes=12, band_rows=3
    )
    labels = dedup.dup_clusters(pairs)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("size") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
        ((F.col("size") - 1) * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_removable"),
    )


@query(
    "d11_incremental_dedup",
    # the incoming "batch" is the deterministic doc_id % 5 = 0 slice; the
    # oracle bands ALL docs once and keeps only cross-side bucket pairs
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
    FROM bands n JOIN bands c
      ON n.band = c.band AND n.band_sig = c.band_sig
    WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
    """,
)
def d11_incremental_dedup(spark, sf_dir):
    """Incremental dedup: near-dup candidates of an incoming batch
    (doc_id % 5 = 0 stands in for a new crawl slice) against the
    existing corpus — cross-side pairs only; intra-corpus buckets (the
    quadratic bulk, already deduped by prior batches) are never
    materialized (llmdata/dedup.incremental_neardup_pairs)."""
    d = table(spark, sf_dir, "documents")
    # band the WHOLE corpus once and split the banded frame by side
    # (optimization r15, guide §2.4): banding is per-document, so
    # bands(filter(d)) == filter(bands(d)) — but the two-frame form ran
    # the scan→shingle→md5→signature pipeline twice (once per side).
    # The banded frame is cached through the plan-cache registry: a
    # bare common subplan would NOT be shared (Catalyst pushes the
    # doc_id%5 side filters through the signature aggregate down to the
    # scan, so the two sides' subtrees differ and ReuseExchange never
    # matches — plan-verified); the cache pins one materialized corpus
    # pass, and each side is a cheap in-memory filter of it. Band rows
    # are (id, band, sig) triples — tiny next to the text they replace.
    banded = tracked_cache(
        dedup.lsh_bands(
            dedup.minhash_signatures(
                d, "doc_id", "text", k=3, num_hashes=12
            ),
            "doc_id", num_hashes=12, band_rows=3,
        )
    )
    return dedup.incremental_neardup_pairs(
        None, None, "doc_id", "text",
        new_bands=banded.where(F.col("doc_id") % 5 == 0),
        corpus_bands=banded.where(F.col("doc_id") % 5 != 0),
    )


@query(
    "d09_decontaminate",
    # word 5-shingles (w[i:i+4] is inclusive slicing = 5 tokens); the eval
    # "benchmark" is the deterministic doc_id % 13 = 7 slice of the corpus
    oracle=f"""
    WITH {_SH5_CTES},
    ev AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id % 13 = 7),
    tr AS (SELECT doc_id, shingle FROM sh5 WHERE doc_id % 13 <> 7)
    SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_shingles
    FROM tr JOIN ev USING (shingle) GROUP BY 1
    """,
)
def d09_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs sharing a distinct word
    5-shingle with the eval slice (doc_id % 13 = 7 stands in for a
    benchmark suite), with the collision count — the pre-training
    n-gram-overlap audit. Eval side collapses to a distinct shingle set
    (broadcastable; at most one match per train shingle row, so hot
    shingles cannot fan out — see llmdata/dedup.contamination_hits)."""
    d = table(spark, sf_dir, "documents")
    ev = d.where(F.col("doc_id") % 13 == 7)
    tr = d.where(F.col("doc_id") % 13 != 7)
    return dedup.contamination_hits(tr, ev, "doc_id", "text", k=5)


@query(
    "d24_minhash_error",
    # est = matching-component fraction of the two 12-hash signatures;
    # exact = distinct-3-shingle Jaccard. Both sides deterministic
    # (md5 family), so the ORACLE rebuilds the whole estimator and the
    # estimate itself enters the hash — s05's "approximation evaluated,
    # not asserted" rule applied to MinHash. LEFT join to the exact
    # side: a hash-collision candidate pair sharing no shingle reads as
    # exact 0, keeping the report total.
    oracle=f"""
    WITH {_MINHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ),
    est AS (
      SELECT p.id_a, p.id_b,
             {sql_round("(" + " + ".join(
                 f"CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END"
                 for j in range(12)) + ") / 12.0", 4)} AS est_jaccard
      FROM pairs p
      JOIN mh a ON a.doc_id = p.id_a
      JOIN mh b ON b.doc_id = p.id_b
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(s)) AS shingle FROM shl
    ),
    {_OVERLAP_CTES},
    exact AS (
      SELECT i.id_a, i.id_b,
             {sql_round('n_inter / (sa.n_sh + sb.n_sh - n_inter)', 4)}
               AS exact_jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
    )
    SELECT e.id_a, e.id_b, e.est_jaccard,
           COALESCE(x.exact_jaccard, 0.0) AS exact_jaccard,
           {sql_round("abs(e.est_jaccard - COALESCE(x.exact_jaccard, 0.0))", 4)}
             AS abs_err,
           abs(e.est_jaccard - COALESCE(x.exact_jaccard, 0.0)) <= 0.35
             AS within_bound
    FROM est e LEFT JOIN exact x USING (id_a, id_b)
    """,
)
def d24_minhash_error(spark, sf_dir):
    """MinHash ACCURACY report (r10) — s05's "evaluate the
    approximation, don't assert it" rule applied to the dedup
    estimator: for every LSH candidate pair, the signature-agreement
    estimate of Jaccard (matching components / 12) next to the EXACT
    distinct-shingle Jaccard, the absolute error, and a
    ``within_bound`` flag at 0.35 (≳2.4σ for 12 hashes at the s-curve
    threshold). Every column is deterministic — the md5 min-hash family
    is the same in both engines — so the estimate itself rides the
    hash, not just the decision; the report is what tells you whether
    12 hashes are enough BEFORE you re-shingle 100 TB with 64. A
    candidate pair sharing no shingle (possible only via a band-level
    hash collision) reads exact 0 through the LEFT join, keeping the
    report total over candidates.

    Scale shape: the signature frame is computed once and CACHED
    (13 ints/doc, text-free — d18's barrier rule; it feeds the band
    expansion and BOTH est join sides), candidate pairs come from the
    one-shuffle bucket expansion, and the exact side is d03's
    inverted-index join — never all-pairs."""
    d = table(spark, sf_dir, "documents")
    sig = tracked_cache(dedup.minhash_signatures(d, "doc_id", "text", 3, 12))
    pairs = dedup.lsh_candidate_pairs(
        dedup.lsh_bands(sig, "doc_id", 12, 3), "doc_id"
    )
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(12)],
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(12)],
    )
    matches = sum(
        F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), 1).otherwise(0)
        for j in range(12)
    )
    est = pairs.join(a, "id_a").join(b, "id_b").select(
        "id_a", "id_b",
        pround(matches / F.lit(12.0), 4).alias("est_jaccard"),
    )
    exact = dedup.jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.0)
    out = est.join(
        exact.select("id_a", "id_b", F.col("jaccard").alias("exact_raw")),
        ["id_a", "id_b"],
        "left",
    )
    exact_j = F.coalesce(F.col("exact_raw"), F.lit(0.0))
    return out.select(
        "id_a",
        "id_b",
        "est_jaccard",
        exact_j.alias("exact_jaccard"),
        pround(F.abs(F.col("est_jaccard") - exact_j), 4).alias("abs_err"),
        (F.abs(F.col("est_jaccard") - exact_j) <= 0.35).alias(
            "within_bound"
        ),
    )


@query(
    "d23_contamination_report",
    # two synthetic benchmark suites (doc_id % 13 ∈ {7, 11}); the report
    # is per (train source × benchmark) — counts are pure integers, the
    # rate rides the compat 4dp grid
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split({_NORM}, ' ') AS w
      FROM documents
    ),
    sh5 AS (
      SELECT doc_id, source,
             unnest(list_distinct(
               [array_to_string(w[i:i+4], ' ')
                for i in generate_series(1, len(w) - 4)])) AS shingle
      FROM toks WHERE len(w) >= 5
    ),
    ev AS (
      SELECT DISTINCT CASE WHEN doc_id % 13 = 7 THEN 'bench_a'
                           ELSE 'bench_b' END AS bench, shingle
      FROM sh5 WHERE doc_id % 13 IN (7, 11)
    ),
    tr AS (
      SELECT source, doc_id, shingle FROM sh5
      WHERE doc_id % 13 NOT IN (7, 11)
    ),
    denom AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train_docs
      FROM documents WHERE doc_id % 13 NOT IN (7, 11) GROUP BY source
    ),
    hits AS (
      SELECT tr.source, ev.bench, tr.doc_id,
             COUNT(*) AS n_doc_hits
      FROM tr JOIN ev USING (shingle)
      GROUP BY 1, 2, 3
    ),
    agg AS (
      SELECT source, bench,
             CAST(COUNT(*) AS BIGINT) AS n_contaminated,
             CAST(SUM(n_doc_hits) AS BIGINT) AS n_hit_shingles
      FROM hits GROUP BY 1, 2
    )
    SELECT d.source, a.bench, d.n_train_docs, a.n_contaminated,
           a.n_hit_shingles,
           {sql_round("a.n_contaminated * 1.0 / d.n_train_docs", 4)}
             AS contamination_rate
    FROM agg a JOIN denom d USING (source)
    """,
)
def d23_contamination_report(spark, sf_dir):
    """Decontamination AUDIT (r10) — d09 tells you WHICH training docs
    collide with the eval set; this is the report you actually read
    before a training run: per (train source × benchmark suite), how
    many documents are contaminated, how many distinct 5-shingles leak,
    and the contamination RATE against the source's training-doc count —
    "source crawl_b leaks 4% of its docs into bench_a" is the sentence
    that decides whether to drop a source or a benchmark. Two synthetic
    suites (doc_id % 13 ∈ {7, 11}) stand in for benchmark datasets.

    Scale shape: d09's asymmetric contract per suite — the eval side
    collapses to a DISTINCT (bench, shingle) set (benchmark suites are
    tiny next to a corpus; broadcastable), so each train shingle row
    matches at most once per suite and stopword-dense shingles cannot
    fan out. The shingle expansion carries (source, bench-role) from
    the scan, so neither side joins back to the corpus for its labels
    (the first cut paid two label join-backs and 5 corpus scans; this
    shape pays the two d03-style deliberate shingle re-expansions plus
    one 2-column denominator scan). The per-doc hit count reduces
    before the per-source rollup; the denominator is a ≤|sources|-row
    broadcast frame."""
    d = table(spark, sf_dir, "documents")
    bench = (
        F.when(F.col("doc_id") % 13 == 7, F.lit("bench_a"))
        .when(F.col("doc_id") % 13 == 11, F.lit("bench_b"))
    )  # NULL = training doc
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.relational import (
        spread_compute,
    )

    base = spread_compute(d, key="doc_id").select(
        "doc_id",
        "source",
        bench.alias("bench"),
        F.explode(
            F.array_distinct(dedup.shingle_array(F.col("text"), 5))
        ).alias("shingle"),
    )
    ev = (
        base.where(F.col("bench").isNotNull())
        .select("bench", "shingle")
        .distinct()
    )
    tr = base.where(F.col("bench").isNull()).select(
        "source", "doc_id", "shingle"
    )
    denom = (
        d.where(~(F.col("doc_id") % 13).isin(7, 11))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_train_docs"))
    )
    hits = (
        tr.join(ev, "shingle")
        .groupBy("source", "bench", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_doc_hits"))
    )
    agg = hits.groupBy("source", "bench").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_contaminated"),
        F.sum("n_doc_hits").cast("bigint").alias("n_hit_shingles"),
    )
    return agg.join(F.broadcast(denom), "source").select(
        "source",
        "bench",
        "n_train_docs",
        "n_contaminated",
        "n_hit_shingles",
        pround(
            F.col("n_contaminated") * F.lit(1.0) / F.col("n_train_docs"), 4
        ).alias("contamination_rate"),
    )


@query(
    "d10_dedup_keep_best",
    # same quality expression as t02 (proven cross-engine there); argmax
    # per fingerprint = row_number over (rounded quality DESC, doc_id)
    oracle=f"""
    WITH scored AS (
      SELECT md5({_NORM}) AS fp, doc_id,
             {sql_round(_QUALITY_EXPR, 4)} AS q
      FROM documents
    ),
    {_KEEP_BEST_SQL}
    FROM r WHERE rn = 1
    """,
)
def d10_dedup_keep_best(spark, sf_dir):
    """Exact-dup resolution keeping the highest-quality member per
    fingerprint group (tie → min doc_id) — d01's keep-first policy
    upgraded to the keep-best step a training pipeline actually wants.
    Spark side is a single fingerprint aggregate with a max(struct)
    argmax (no window, no per-group sort); the oracle expresses the same
    argmax as a row_number window, proving the two formulations agree."""
    d = table(spark, sf_dir, "documents")
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        quality_score,
    )

    return dedup.dedup_keep_best(d, "doc_id", "text", quality_score(F.col("text")))


@query(
    "d12_decontaminated_split",
    # d09 ∘ d10 ∘ d08 composed: the eval slice's distinct 5-shingles knock
    # out contaminated train docs; survivors resolve to one keeper per
    # normalized-content fp (d10's _KEEP_BEST_SQL); the 90/10 split gate
    # hashes that same fp (salt 'split', cutoff 'e666').
    oracle=f"""
    WITH {_SH5_CTES},
    ev AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id % 13 = 7),
    hits AS (
      SELECT DISTINCT t.doc_id FROM sh5 t JOIN ev USING (shingle)
      WHERE t.doc_id % 13 <> 7
    ),
    scored AS (
      SELECT md5({_NORM}) AS fp, doc_id, {sql_round(_QUALITY_EXPR, 4)} AS q
      FROM documents
      WHERE doc_id % 13 <> 7
        AND doc_id NOT IN (SELECT doc_id FROM hits)
    ),
    {_KEEP_BEST_SQL},
           CASE WHEN substr(md5('split' || fp), 1, 4) < 'e666'
                THEN 'train' ELSE 'eval' END AS split
    FROM r WHERE rn = 1
    """,
)
def d12_decontaminated_split(spark, sf_dir):
    """Contamination-aware corpus finalization — d09 → d10 → d08 chained
    as a single plan (llmdata/dedup.decontaminate_resolve_split): drop
    train docs sharing a 5-shingle with the eval slice (doc_id % 13 = 7),
    keep the best-quality member per normalized-content fingerprint, then
    split 90/10 on that same fingerprint so content groups never straddle
    the boundary. One big-side shuffle end-to-end: the contamination
    id-frame anti-joins back via AQE broadcast, and the split gate reuses
    the fp the keep-best aggregate just computed."""
    d = table(spark, sf_dir, "documents")
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        quality_score,
    )

    ev = d.where(F.col("doc_id") % 13 == 7)
    tr = d.where(F.col("doc_id") % 13 != 7)
    return dedup.decontaminate_resolve_split(
        tr, ev, "doc_id", "text", quality_score(F.col("text")), k=5
    )


@query(
    "d13_fuzzy_dedup_resolve",
    # d02 ∘ d07 ∘ d10 composed: LSH candidate pairs → recursive-CTE
    # connected components → quality argmax per cluster (argmax ≡
    # row_number, the d10 equivalence)
    oracle=f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    comp AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    scored AS (
      SELECT c.cluster_id, c.doc_id, {sql_round(_QUALITY_EXPR, 4)} AS q
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ),
    r AS (
      SELECT cluster_id, doc_id, q,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY q DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM scored
    )
    SELECT cluster_id, doc_id AS keeper, q AS best_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM r WHERE rn = 1
    """,
)
def d13_fuzzy_dedup_resolve(spark, sf_dir):
    """Fuzzy-dup resolution end to end — d02 → d07 → d10 chained
    (llmdata/dedup.fuzzy_dedup_keep_best): MinHash-LSH candidates,
    min-label-propagation components, then ONE quality-argmax aggregate
    choosing the surviving document per near-dup cluster. The fuzzy
    counterpart of d12's exact-fingerprint chain; the oracle recomputes
    components via recursive transitive closure and the argmax via
    row_number."""
    d = table(spark, sf_dir, "documents")
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        quality_score,
    )

    return dedup.fuzzy_dedup_keep_best(
        d, "doc_id", "text", quality_score(F.col("text"))
    )


@query(
    "d03_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_OVERLAP_CTES}
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             {sql_round('n_inter / (sa.n_sh + sb.n_sh - n_inter)', 4)} AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
    WHERE jaccard >= 0.1
    """,
)
def d03_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard ≥ 0.1 over pairs sharing ≥1 shingle
    (inverted-index join — never all-pairs)."""
    d = table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.1)


_SIMHASH_CTE = f"""
  toks_sh AS (
    SELECT doc_id,
           unnest(list_distinct(string_split({_NORM}, ' '))) AS tok
    FROM documents
  ),
  th AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT AS BIGINT) AS h
    FROM toks_sh
  ),
  contrib AS (
    SELECT doc_id, b, CAST(power(2, b) AS BIGINT) AS p,
           CASE WHEN CAST(floor(h / power(2, b)) AS BIGINT) % 2 = 1
                THEN 1 ELSE -1 END AS sgn
    FROM th CROSS JOIN generate_series(0, 31) t(b)
  ),
  votes AS (
    SELECT doc_id, b, p, SUM(sgn) AS vote FROM contrib GROUP BY doc_id, b, p
  ),
  simsig AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN p ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
  )
"""


@query(
    "d04_simhash",
    oracle=f"""
    WITH {_SIMHASH_CTE}
    SELECT doc_id, simhash FROM simsig
    """,
)
def d04_simhash(spark, sf_dir):
    """32-bit SimHash signatures (bit-majority over md5 token hashes)."""
    d = table(spark, sf_dir, "documents")
    return dedup.simhash_signatures(d, "doc_id", "text", bits=32)


@query(
    "d06_simhash_neardup",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    banded AS (
      SELECT doc_id, simhash, b AS band, (simhash >> (4 * b)) & 15 AS val
      FROM simsig CROSS JOIN generate_series(0, 7) t(b)
    )
    SELECT DISTINCT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id)
    WHERE hamming <= 6
    """,
)
def d06_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs: nibble-band candidates, exact Hamming ≤ 6
    verify via bit_count(xor) — no signature re-join (pairs carry both
    signatures out of the bucket expansion). band_bits is pinned to 4 —
    8 bands over 32 bits — because the oracle's band layout is part of
    this query's contract AND 8 bands > max_hamming=6 keeps the
    pigeonhole guarantee: ≤6 differing bits touch ≤6 bands, so at least
    two bands always match exactly (the r4 byte-band layout had only 4
    bands, which silently voided that guarantee —
    tests/test_llmdata.py pins recall with planted Hamming-5/6 pairs).
    The operator default auto-scales band width with corpus size."""
    d = table(spark, sf_dir, "documents")
    return dedup.simhash_neardup_pairs(
        d, "doc_id", "text", max_hamming=6, band_bits=4
    )


_PROBES = [0, 1, 2, 3, 4]


def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


# the embeddings as DOUBLE lists
_V_CTE = """v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )"""

# s01's per-probe top 5 over a scored(query_id, neighbor_id, cos_sim) CTE
_TOP5_SQL = """ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5"""


@query(
    "s01_cosine_topk",
    oracle=f"""
    WITH {_V_CTE},
    probes AS (
      SELECT vec_id AS query_id, e AS q FROM v
      WHERE vec_id IN ({", ".join(map(str, _PROBES))})
    ),
    scored AS (
      SELECT query_id, v.vec_id AS neighbor_id,
             {sql_round(_cos_sql("q", "e"), 4)} AS cos_sim
      FROM v CROSS JOIN probes WHERE v.vec_id <> query_id
    ),
    {_TOP5_SQL}
    """,
)
def s01_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 5 probe vectors — the ANN correctness
    baseline. Probe side broadcast; candidates scanned once."""
    e = table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(e, "vec_id", "embedding", _PROBES, k=5)


def _bucket_sql(e: str, m: int = 8) -> str:
    terms = [
        f"(CASE WHEN {e}[{i + 1}] > 0 THEN {2**i} ELSE 0 END)" for i in range(m)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# s02's sign-bucketed vectors and probes
_BUCKET_PROBE_CTES = f"""v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             {_bucket_sql("embedding")} AS bucket
      FROM embeddings
    ),
    probes AS (
      SELECT vec_id AS query_id, e AS q, bucket FROM v
      WHERE vec_id IN ({", ".join(map(str, _PROBES))})
    )"""


@query(
    "s02_bucketed_topk",
    oracle=f"""
    WITH {_BUCKET_PROBE_CTES},
    scored AS (
      SELECT query_id, v.vec_id AS neighbor_id,
             {sql_round(_cos_sql("q", "e"), 4)} AS cos_sim
      FROM v JOIN probes USING (bucket) WHERE v.vec_id <> query_id
    ),
    {_TOP5_SQL}
    """,
)
def s02_bucketed_topk(spark, sf_dir):
    """LSH (sign-bit) bucketed ANN top-5 — the scale path: each probe only
    scans its bucket (≈1/256 of data with m=8)."""
    e = table(spark, sf_dir, "embeddings")
    return similarity.bucketed_topk(e, "vec_id", "embedding", _PROBES, k=5, m=8)


@query(
    "d05_embedding_neardup",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             {_bucket_sql("embedding", 4)} AS bucket
      FROM embeddings
    )
    SELECT id_a, id_b, cos_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {sql_round(_cos_sql("a.e", "b.e"), 4)} AS cos_sim
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    WHERE cos_sim >= 0.35
    """,
)
def d05_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs ≥ 0.35 within 4-bit sign buckets
    (the dedup-by-embedding family; bucket = LSH candidate generation)."""
    e = table(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(
        e, "vec_id", "embedding", threshold=0.35, m=4
    )


@query(
    "m01_binary_stats",
    # byte-true oracle: decode UTF-8 bytes via hex pairs (not per-character
    # ascii() code points), so it stays correct on non-ASCII documents
    oracle="""
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    bytes AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
                 i -> CAST(('0x' || substr(h, i * 2 + 1, 2)) AS INT)) AS bs
      FROM hx
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_bytes,
           CAST(CASE WHEN n = 0 THEN -1 ELSE bs[1] END AS BIGINT) AS first_byte,
           CAST(COALESCE(list_aggregate(bs, 'sum'), 0) AS BIGINT) % 997
             AS byte_sum_mod
    FROM bytes
    """,
)
def m01_binary_stats(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload column + Arrow-batched
    mapInPandas feature extraction (byte stats as the deterministic decoder
    stand-in — media libs are stubbed, SURVEY.md §7.2 step 11)."""
    d = table(spark, sf_dir, "documents")
    return multimodal.binary_stats(multimodal.attach_binary_payload(d))


# a payload's UTF-8 bytes as hex (``h``) and their count (``nb``)
_HX_CTE = """hx AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS nb
      FROM documents
    )"""

# m02's pixel list: every payload byte as an INT
_BYTES_CTES = f"""{_HX_CTE},
    bytes AS (
      SELECT doc_id,
             list_transform(range(0, nb),
                 i -> CAST(('0x' || substr(h, i * 2 + 1, 2)) AS INT)) AS bs
      FROM hx
    )"""

# m04's BMP geometry: 16 wide, nb // 16 rows, shorter payloads dropped
_DIMS_CTES = f"""{_HX_CTE},
    dims AS (
      SELECT doc_id, h, nb // 16 AS ht FROM hx WHERE nb >= 16
    )"""


@query(
    "m02_image_decode_stats",
    oracle=f"""
    WITH {_BYTES_CTES},
    sums AS (
      SELECT doc_id, len(bs) AS n,
             CAST(list_aggregate(bs, 'sum') AS DOUBLE) AS s,
             CAST(list_aggregate(list_transform(bs, x -> x * x), 'sum')
                  AS DOUBLE) AS sq
      FROM bytes
    )
    SELECT doc_id,
           CAST(ceil(n / 32.0) AS INT) AS height,
           CAST(32 AS INT) AS width,
           {sql_round("s / n", 4)} AS mean_pixel,
           {sql_round("sqrt(greatest((sq - s * s / n) / n, 0.0))", 4)}
             AS std_pixel
    FROM sums
    """,
)
def m02_image_decode_stats(spark, sf_dir):
    """Multimodal decode path with a deterministic fake decoder (payload
    bytes = grayscale pixels, width 32): real Arrow-batched mapInPandas
    plumbing, engine-replicable math (integer sums; identical variance
    formula both sides)."""
    d = table(spark, sf_dir, "documents")
    return multimodal.decode_image_stats(multimodal.attach_binary_payload(d))


@query(
    "m03_frame_sample",
    # frame range derives from each payload's own length (no hard cap);
    # byte-true hex decode as in m01/m02
    oracle=f"""
    WITH {_BYTES_CTES},
    frames AS (
      SELECT doc_id, bs,
             unnest(range(0, CAST(ceil(len(bs) / 16.0) AS BIGINT))) AS i
      FROM bytes
    )
    SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           CAST(list_aggregate(bs[i * 16 + 1 : i * 16 + 16], 'sum') AS BIGINT)
             AS frame_sum
    FROM frames
    WHERE i % 4 = 0
    """,
)
def m03_frame_sample(spark, sf_dir):
    """Multimodal frame sampling (payload = stream of 16-byte frames, every
    4th sampled): one row fans out to many through mapInPandas — the video
    keyframe-sampler shape."""
    d = table(spark, sf_dir, "documents")
    return multimodal.sample_frames(multimodal.attach_binary_payload(d))


@query(
    "m04_real_bmp_roundtrip",
    # oracle = byte math: the decoded pixel population IS the truncated
    # UTF-8 byte sequence (BMP roundtrip is exact; 3 identical channels
    # leave the mean unchanged). Mean stays integer-sum/size — exact in
    # double on both engines, so rounding is drift-free.
    oracle=f"""
    WITH {_DIMS_CTES},
    bytes AS (
      SELECT doc_id, ht,
             list_transform(range(0, ht * 16),
                 i -> CAST(('0x' || substr(h, i * 2 + 1, 2)) AS INT)) AS bs
      FROM dims
    )
    SELECT doc_id, CAST(ht AS INT) AS height, CAST(16 AS INT) AS width,
           {sql_round("CAST(list_aggregate(bs, 'sum') AS DOUBLE) / (ht * 16)", 6)}
             AS mean_pixel
    FROM bytes
    """,
)
def m04_real_bmp_roundtrip(spark, sf_dir):
    """REAL image decode under the driver gate: document bytes → true
    24-bit BMP (numpy codec) → ``decode_image`` (the same mapInPandas
    path a PIL deployment uses) → per-image geometry + mean pixel.
    Unlike m02's fake decoder, the bytes crossing this path are a real
    BMP with headers, bottom-up rows and padding."""
    d = table(spark, sf_dir, "documents")
    imgs = multimodal.encode_text_as_bmp(d, "doc_id", "text", width=16)
    stats = multimodal.decode_image(imgs)
    return stats.select(
        "doc_id",
        "height",
        "width",
        pround(F.col("mean_pixel"), 6).alias("mean_pixel"),
    )


# s03's coarse quantizer: 16 deterministic centroids (the first 16
# vectors) and every vector's cosine to each
_IVF_CTES = f"""{_V_CTE},
    cents AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < 16),
    dists AS (
      SELECT v.vec_id, cid, {sql_round(_cos_sql("e", "c"), 6)} AS d
      FROM v CROSS JOIN cents
    )"""

# each vector's nearest cell (tie: lower centroid id)
_IVF_CELLS_CTES = f"""{_IVF_CTES},
    cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d DESC, cid) AS rn FROM dists)
      WHERE rn = 1
    )"""

# s03's probe scan: each probe scores only the vectors of its cells
_IVF_TOP5_SQL = f"""scored AS (
      SELECT query_id, v.vec_id AS neighbor_id,
             {sql_round(_cos_sql("q", "e"), 4)} AS cos_sim
      FROM v JOIN cells USING (vec_id) JOIN probes USING (cell)
      WHERE v.vec_id <> query_id
    ),
    {_TOP5_SQL}"""


@query(
    "s03_ivf_topk",
    oracle=f"""
    WITH {_IVF_CELLS_CTES},
    probes AS (
      SELECT v.vec_id AS query_id, e AS q, cell
      FROM v JOIN cells USING (vec_id)
      WHERE vec_id IN ({", ".join(map(str, _PROBES))})
    ),
    {_IVF_TOP5_SQL}
    """,
)
def s03_ivf_topk(spark, sf_dir):
    """IVF ANN top-5 (nprobe=1): coarse-quantize to 16 deterministic
    centroid cells, probes scan only their cell — the partition-pruned
    scale path next to the LSH variant (s02)."""
    e = table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(e, "vec_id", "embedding", _PROBES, k=5, n_centroids=16)


@query(
    "s04_ivf_multiprobe",
    oracle=f"""
    WITH {_IVF_CTES},
    ranked_cells AS (
      SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY d DESC, cid) AS rn FROM dists
    ),
    cells AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn = 1),
    probe_cells AS (
      SELECT vec_id AS query_id, cid AS cell FROM ranked_cells
      WHERE rn <= 2 AND vec_id IN ({", ".join(map(str, _PROBES))})
    ),
    probes AS (
      SELECT query_id, e AS q, cell
      FROM probe_cells JOIN v ON v.vec_id = query_id
    ),
    {_IVF_TOP5_SQL}
    """,
)
def s04_ivf_multiprobe(spark, sf_dir):
    """IVF ANN top-5 at nprobe=2 — the recall/cost dial: each probe scans
    its two nearest cells (~2/16 of the data), strictly higher recall
    than s03 at double the scan. Data vectors still belong to exactly
    one cell, so no dedup is needed after the cell join."""
    e = table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        e, "vec_id", "embedding", _PROBES, k=5, n_centroids=16, nprobe=2
    )


@query(
    "o05_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE lang WHEN 'en' THEN '8000' WHEN 'zh' THEN '4000'
                    ELSE '1999' END
    """,
)
def o05_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling (corpus-mix control): keep ~50%
    of en, ~25% of zh, ~10% of everything else, decided by an md5 prefix
    of (salt, doc_id) — identical on every run/engine/partitioning, unlike
    rand()-based sample(). Pure row-local filter, zero added shuffles;
    thresholds are 16-bit hex cutoffs (llmdata/sampling.rate_to_hex)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        stratified_hash_sample,
    )

    d = table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        d, "doc_id", "lang", rates={"en": 0.5, "zh": 0.25}, default_rate=0.1
    ).select("doc_id", "lang")


@query(
    "o08_quality_weighted_sample",
    # the weight is the CROSS-ENGINE-ROUNDED t02 quality score, so the
    # in-plan threshold (floor(w*65536), both overflow guards) is
    # bit-identical in DuckDB; the gate is then a pure string compare
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             greatest({sql_round(_QUALITY_EXPR, 4)}, 0.0) AS weight
      FROM documents
    )
    SELECT doc_id, weight FROM w
    WHERE substr(md5('wq|' || CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE WHEN weight >= 1.0 THEN 'g'
               ELSE printf('%04x', least(
                 CAST(floor(weight * 65536.0) AS INT), 65535)) END
    """,
)
def o08_quality_weighted_sample(spark, sf_dir):
    """Sampling-family completion — per-ROW weighted sampling: each
    document survives with probability equal to its own (deterministic)
    quality score, the keep-good-often / keep-bad-rarely step of an
    LLM-data pipeline. o05 gates one rate per stratum and o06 one per
    source; this is the per-row generalization
    (``llmdata/sampling.weighted_hash_sample``): the 16-bit threshold is
    computed from the weight column IN-plan, the decision hashes
    (salt, doc_id) — reproducible across runs/engines/partitionings —
    and the whole operator is a row-local filter with zero shuffle."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        quality_score,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        weighted_hash_sample,
    )

    d = table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        "text",
        F.greatest(pround(quality_score(F.col("text")), 4), F.lit(0.0)).alias(
            "weight"
        ),
    )
    return weighted_hash_sample(w, "doc_id", F.col("weight"), salt="wq|").select(
        "doc_id", "weight"
    )


@query(
    "o12_weighted_reservoir",
    # priority = (32-bit md5 draw + 1) / weight: integer hash exactly
    # representable in double, one IEEE division (correctly rounded in
    # BOTH engines — the o06 rule: +,-,×,÷ only, never pow/ln, which
    # differ in the last ulp across libms and would flip ranks), rank
    # ascending with the doc_id tiebreak
    oracle=f"""
    WITH w AS (
      SELECT lang, doc_id,
             greatest({sql_round(_QUALITY_EXPR, 4)}, 0.0) AS weight
      FROM documents
    ),
    k AS (
      SELECT lang, doc_id, weight,
             (CAST(CAST('0x' || substr(md5('res|' ||
                CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT)
              + 1) / weight AS key
      FROM w WHERE weight > 0.0
    )
    SELECT lang, doc_id, weight, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY key, doc_id) AS rk
      FROM k)
    WHERE rk <= 50
    """,
)
def o12_weighted_reservoir(spark, sf_dir):
    """Sampling-family completion (r10) — EXACT-SIZE weighted sampling:
    "give me exactly k documents per source, chosen ∝ quality". o08's
    Bernoulli gate yields a BINOMIAL sample size (right for rate
    thinning, wrong when the budget is a row count); this is the
    fixed-k counterpart via sequential Poisson sampling (Ohlsson 1998,
    the πps-approximating order-sampling design): each row draws a
    deterministic uniform from md5(salt, id), its priority key is
    ``u / weight``, and the k SMALLEST keys per stratum win — high
    weight shrinks the key, so inclusion probability grows ∝ weight.
    Determinism discipline: the draw is the hash integer itself (+1 to
    dodge zero) over one IEEE division — correctly rounded identically
    in Spark and DuckDB, unlike the classic A-Res ``u^(1/w)`` whose
    libm ``pow`` can flip last-ulp ranks across engines (the same
    reason o06 squares instead of pow()). Zero-weight docs are excluded
    up front (their key would be +inf anyway). Scale shape: the rank ≤ k
    predicate compiles to WindowGroupLimit (plan-pinned), so each map
    task keeps only its local top-k BEFORE the lang shuffle — the
    100 TB-safe form of per-group selection; one keyed exchange total."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        quality_score,
    )
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    w = d.select(
        "lang",
        "doc_id",
        F.greatest(pround(quality_score(F.col("text")), 4), F.lit(0.0)).alias(
            "weight"
        ),
    ).where(F.col("weight") > 0.0)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("res|"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    keyed = w.withColumn(
        "key", (h + F.lit(1)).cast("double") / F.col("weight")
    )
    win = Window.partitionBy("lang").orderBy(F.asc("key"), F.asc("doc_id"))
    return (
        keyed.withColumn("rk", F.row_number().over(win).cast("bigint"))
        .where(F.col("rk") <= 50)
        .select("lang", "doc_id", "weight", "rk")
    )


def _metric_rows(agg: DataFrame, consts: list[tuple[str, int]]) -> DataFrame:
    """The (metric, value bigint) audit rows of the snapshot-table
    queries: one row per column of the one-row ``agg``, named after the
    column, then one per driver-side ``(metric, value)`` constant."""

    def kv(name, value):
        return F.struct(
            F.lit(name).alias("metric"), value.cast("bigint").alias("value")
        )

    rows = [kv(c, F.col(c)) for c in agg.columns]
    rows += [kv(k, F.lit(int(v))) for k, v in consts]
    return agg.select(F.explode(F.array(*rows)).alias("kv")).select(
        "kv.metric", "kv.value"
    )


@query(
    "o13_snapshot_time_travel",
    # v1 = the %3==0 slice, v2 = v1 plus an APPENDED %3==1 slice. The
    # oracle recomputes both versions' aggregates from the source table
    # — if time travel read the wrong file set (a torn publish, an
    # append that rewrote v1, a reader seeing the newer version), either
    # row's (n_docs, sum_id, sum_chars) flips and the hash fails.
    oracle="""
    SELECT 1 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 2 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 3 IN (0, 1)
    """,
)
def o13_snapshot_time_travel(spark, sf_dir):
    """Snapshot-versioned parquet TABLE, driver-attested (r10): publish
    version 1 (a third of the corpus) and version 2 (a manifest-level
    APPEND of another third — zero bytes of v1 rewritten), then read
    BOTH versions back through their manifests and aggregate each. The
    MVCC manifest protocol closes the one gap the staged-swap
    maintenance ops document every time they run — a concurrent reader
    observing a half-swapped table — because readers resolve an
    immutable manifest first and scan exactly its file list; this query
    makes the whole protocol (O_EXCL publish, append-by-reference, time
    travel) hash-attestable against aggregates the oracle recomputes
    from the source. Construction-time work in a
    :func:`registry.scratch_dir`."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    tmp = scratch_dir("o13_snapshot_time_travel")
    tbl = f"{tmp}/docs_tbl"
    write_parquet_snapshot(d.where(F.col("doc_id") % 3 == 0), tbl)
    write_parquet_snapshot(
        d.where(F.col("doc_id") % 3 == 1), tbl, mode="append"
    )
    outs = []
    for v in (1, 2):
        outs.append(
            read_parquet_snapshot(spark, tbl, version=v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("doc_id").cast("bigint").alias("sum_id"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "o14_snapshot_lifecycle",
    # The FULL MVCC maintenance lifecycle under the hash gate (VERDICT
    # r10 #3/#4): three appended versions (1 file each, coalesce(1)) →
    # manifest-aware compaction (v4, 3 files → 1, zero semantic change)
    # → vacuum keep=2 (drops v1/v2 manifests but removes ZERO files —
    # append shares every file forward into v3) → vacuum keep=1 (drops
    # v3, reclaiming exactly its 3 now-unshared files; the compacted v4
    # file survives). Every metric is a deterministic constant or an
    # aggregate the oracle recomputes from the source, so a compaction
    # that lost rows, a vacuum that deleted a shared file (latest read
    # breaks), or a dropped version still readable (refused_reads
    # flips) all fail the hash.
    oracle="""
    SELECT 'latest_docs' AS metric, CAST(COUNT(*) AS BIGINT) AS value
    FROM documents WHERE doc_id % 4 IN (0, 1, 2)
    UNION ALL
    SELECT 'latest_sum_id', CAST(SUM(doc_id) AS BIGINT)
    FROM documents WHERE doc_id % 4 IN (0, 1, 2)
    UNION ALL SELECT 'latest_version', 4
    UNION ALL SELECT 'latest_files', 1
    UNION ALL SELECT 'precompact_files', 3
    UNION ALL SELECT 'compact_from_version', 3
    UNION ALL SELECT 'vacuum_keep2_dropped_versions', 2
    UNION ALL SELECT 'vacuum_keep2_removed_files', 0
    UNION ALL SELECT 'vacuum_keep1_dropped_versions', 1
    UNION ALL SELECT 'vacuum_keep1_removed_files', 3
    UNION ALL SELECT 'versions_remaining', 1
    UNION ALL SELECT 'refused_reads', 3
    """,
)
def o14_snapshot_lifecycle(spark, sf_dir):
    """Compaction + vacuum on a snapshot table, driver-attested (r11) —
    o13 attests publish/append/time-travel; this attests the two
    MAINTENANCE ops that complete the MVCC lifecycle.
    ``compact_parquet_snapshot`` publishes a NEW version whose manifest
    names the rewritten files (the manifest IS the atomicity — no
    staged swap, readers isolated throughout, count-verified against
    the base manifest); ``vacuum_parquet_snapshots`` drops manifests
    FIRST and files second (every listed manifest stays readable across
    a crash), removes nothing shared forward by an append chain, and
    reclaims exactly the unshared files of dropped versions. The final
    table state, both vacuums' removal counts, the file counts before/
    after compaction, and the dropped versions' read refusals all ride
    the hash. Construction-time work in a :func:`registry.scratch_dir`,
    as o13."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    tmp = scratch_dir("o14_snapshot_lifecycle")
    tbl = f"{tmp}/docs_tbl"
    for m in (0, 1, 2):  # three 1-file versions: v3 carries 3 files
        write_parquet_snapshot(
            d.where(F.col("doc_id") % 4 == m).coalesce(1),
            tbl,
            mode="append" if m else "overwrite",
        )
    pre_files = len(list_parquet_snapshots(tbl)[-1]["files"])
    comp = compact_parquet_snapshot(spark, tbl, target_files=1)
    v2 = vacuum_parquet_snapshots(tbl, keep=2, orphan_grace_sec=0)
    v1 = vacuum_parquet_snapshots(tbl, keep=1, orphan_grace_sec=0)
    refused = 0
    for v in (1, 2, 3):
        try:
            read_parquet_snapshot(spark, tbl, version=v)
        except ValueError:
            refused += 1
    remaining = list_parquet_snapshots(tbl)
    consts = [
        ("latest_version", remaining[-1]["version"]),
        ("latest_files", len(remaining[-1]["files"])),
        ("precompact_files", pre_files),
        ("compact_from_version", comp["from_version"]),
        ("vacuum_keep2_dropped_versions", len(v2["dropped_versions"])),
        ("vacuum_keep2_removed_files", v2["removed_files"]),
        ("vacuum_keep1_dropped_versions", len(v1["dropped_versions"])),
        ("vacuum_keep1_removed_files", v1["removed_files"]),
        ("versions_remaining", len(remaining)),
        ("refused_reads", refused),
    ]
    latest = read_parquet_snapshot(spark, tbl).agg(
        F.count(F.lit(1)).cast("bigint").alias("latest_docs"),
        F.sum("doc_id").cast("bigint").alias("latest_sum_id"),
    )
    return _metric_rows(latest, consts)


@query(
    "o15_schema_evolution",
    # Schema evolution on the MVCC table (VERDICT r11 #7), every
    # semantic under the hash: v1 is the narrow (%5==0, doc_id+n_chars)
    # slice; v2 APPENDS the %5==1 slice WIDENED with lang under
    # allow_schema_evolution=True (manifest records the widened schema,
    # flagged evolved); the merge-read pads lang=NULL for exactly the
    # v1-era rows (lang_null_docs); a post-evolution narrow append
    # WITHOUT the flag must refuse (drift stays the default); compaction
    # materializes the widened schema into ONE uniform file whose
    # manifest drops the evolved flag yet reads identically. The oracle
    # recomputes every aggregate from the source, so wrong null padding,
    # a dropped column, an un-refused drift, or a compaction that
    # changed values all flip the hash.
    # Every scalar-subquery branch is CAST to BIGINT (the o16 style):
    # DuckDB types SUM(BIGINT) as HUGEINT, the UNION ALL promotes the
    # whole `value` column, and a pandas/arrow fetch materializes
    # HUGEINT as float64 — which value-hash-mismatches Spark's int64
    # even when all values agree (the sole r13 driver red;
    # VERDICT r13 What's-wrong #1).
    oracle="""
    SELECT 'v1_cols' AS metric, CAST(2 AS BIGINT) AS value
    UNION ALL SELECT 'evolved_flag_v2', 1
    UNION ALL SELECT 'latest_docs',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 5 IN (0, 1))
    UNION ALL SELECT 'latest_sum_id',
        (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents
         WHERE doc_id % 5 IN (0, 1))
    UNION ALL SELECT 'lang_null_docs',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 5 = 0)
    UNION ALL SELECT 'sum_chars',
        (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
         WHERE doc_id % 5 IN (0, 1))
    UNION ALL SELECT 'drift_refused', 1
    UNION ALL SELECT 'compact_files', 1
    UNION ALL SELECT 'compact_evolved_flag', 0
    UNION ALL SELECT 'postcompact_docs',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 5 IN (0, 1))
    UNION ALL SELECT 'postcompact_lang_null',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 5 = 0)
    """,
)
def o15_schema_evolution(spark, sf_dir):
    """Opt-in schema evolution on a snapshot table, driver-attested
    (r12) — the u12 unionByName discipline applied to the MVCC layer.
    o13/o14 attest publish/append/time-travel/compaction/vacuum; this
    attests a long-lived table legitimately GAINING a column with zero
    bytes rewritten: the widened manifest, the merge-read's null
    padding (old files pad the new column, per-version schemas stay
    intact), the drift-refusal default surviving the feature, and a
    compaction that re-materializes uniform files and sheds the
    merge-read. Construction-time work in a
    :func:`registry.scratch_dir`, as o13/o14."""
    d = table(spark, sf_dir, "documents")
    narrow = d.select("doc_id", "n_chars")
    tmp = scratch_dir("o15_schema_evolution")
    tbl = f"{tmp}/docs_tbl"
    write_parquet_snapshot(narrow.where(F.col("doc_id") % 5 == 0), tbl)
    write_parquet_snapshot(
        d.select("doc_id", "n_chars", "lang").where(
            F.col("doc_id") % 5 == 1
        ),
        tbl,
        mode="append",
        allow_schema_evolution=True,
    )
    v1_cols = len(read_parquet_snapshot(spark, tbl, version=1).columns)
    evolved_v2 = int(bool(list_parquet_snapshots(tbl)[-1].get("evolved")))
    drift_refused = 0
    try:
        write_parquet_snapshot(
            narrow.where(F.col("doc_id") % 5 == 2).limit(1),
            tbl,
            mode="append",
        )
    except ValueError:
        drift_refused = 1
    latest = read_parquet_snapshot(spark, tbl, version=2).agg(
        F.count(F.lit(1)).cast("bigint").alias("latest_docs"),
        F.sum("doc_id").cast("bigint").alias("latest_sum_id"),
        F.count(F.when(F.col("lang").isNull(), 1))
        .cast("bigint")
        .alias("lang_null_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    comp = compact_parquet_snapshot(spark, tbl, target_files=1)
    snap_c = list_parquet_snapshots(tbl)[-1]
    post = read_parquet_snapshot(spark, tbl, version=comp["version"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("postcompact_docs"),
        F.count(F.when(F.col("lang").isNull(), 1))
        .cast("bigint")
        .alias("postcompact_lang_null"),
    )
    consts = [
        ("v1_cols", v1_cols),
        ("evolved_flag_v2", evolved_v2),
        ("drift_refused", drift_refused),
        ("compact_files", len(snap_c["files"])),
        ("compact_evolved_flag", int(bool(snap_c.get("evolved")))),
    ]
    return _metric_rows(latest.crossJoin(post), consts)


@query(
    "o16_data_skipping",
    # Manifest-level data skipping + clustered compaction + change data
    # feed (r13), every semantic under the hash. The table is documents
    # (doc_id, n_chars) split into four contiguous doc_id-range files
    # (q = n // 4): v1 overwrite [0,q) declaring stats_columns=[doc_id],
    # v2-v4 appends INHERITING the stats. A where= read of
    # [q//2, q//2+q] must prune to exactly 2 of the 4 files
    # (pruned_files) while returning exactly the range's rows
    # (pruned_docs/pruned_sum_id — the oracle recomputes from source, so
    # a wrong bound, an off-by-one at an inclusive edge, or a pruned-away
    # matching file all flip the hash). Clustered compaction
    # (target_files=2, cluster_by=doc_id) must produce range-DISJOINT
    # files (compact_disjoint, from the recomputed manifest stats) that
    # prune a [_, q//2] read to ONE file. The feed: v2-v4 are inserts
    # (doc_id >= q), the compact version contributes nothing, and a
    # doc_id % 7 = 3 DELETE arrives as delete rows; the append-only
    # sub-feed's plan must never touch v1's files
    # (feed_append_scan_isolated — the O(new data) fast path).
    oracle="""
    WITH p AS (SELECT COUNT(*) AS n, COUNT(*) // 4 AS q FROM documents)
    SELECT 'total_files' AS metric, CAST(4 AS BIGINT) AS value
    UNION ALL SELECT 'stats_cover', 1
    UNION ALL SELECT 'pruned_files', 2
    UNION ALL SELECT 'pruned_docs',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents, p
         WHERE doc_id BETWEEN p.q // 2 AND p.q // 2 + p.q)
    UNION ALL SELECT 'pruned_sum_id',
        (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents, p
         WHERE doc_id BETWEEN p.q // 2 AND p.q // 2 + p.q)
    UNION ALL SELECT 'compact_files', 2
    UNION ALL SELECT 'compact_disjoint', 1
    UNION ALL SELECT 'postcompact_pruned_files', 1
    UNION ALL SELECT 'postcompact_docs',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents, p
         WHERE doc_id <= p.q // 2)
    UNION ALL SELECT 'postcompact_sum_id',
        (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents, p
         WHERE doc_id <= p.q // 2)
    UNION ALL SELECT 'feed_inserts',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents, p
         WHERE doc_id >= p.q)
    UNION ALL SELECT 'feed_insert_sum',
        (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents, p
         WHERE doc_id >= p.q)
    UNION ALL SELECT 'feed_deletes',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 7 = 3)
    UNION ALL SELECT 'feed_delete_sum',
        (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents
         WHERE doc_id % 7 = 3)
    UNION ALL SELECT 'feed_versions', 4
    UNION ALL SELECT 'feed_append_scan_isolated', 1
    UNION ALL SELECT 'latest_docs',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 7 <> 3)
    """,
)
def o16_data_skipping(spark, sf_dir):
    """Data skipping, clustered compaction and the change data feed on
    the MVCC table, driver-attested (r13) — o13/o14/o15 attest the
    version/maintenance/evolution lifecycle; this attests the SCALE
    reads: per-file min/max stats recorded at publish (footer-derived,
    inherited through appends), a ``where=`` read that plans over only
    the files whose range can match, OPTIMIZE-style clustered compaction
    making files range-disjoint so skipping survives maintenance, and
    ``snapshot_changes`` serving row-level inserts/deletes whose
    append-only fast path provably never touches pre-existing files.
    Construction-time work in a :func:`registry.scratch_dir`, as
    o13/o14/o15; file-count metrics are driver-side manifest/plan
    metadata (never data collects)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n = d.count()  # 1-row bounds sidecar (the o11/p20 precedent)
    q = n // 4
    lo, hi = q // 2, q // 2 + q
    tmp = scratch_dir("o16_data_skipping")
    tbl = f"{tmp}/docs_tbl"
    write_parquet_snapshot(
        d.where(F.col("doc_id") < q).coalesce(1), tbl,
        stats_columns=["doc_id"],
    )
    for b_lo, b_hi in ((q, 2 * q), (2 * q, 3 * q), (3 * q, None)):
        cond = F.col("doc_id") >= b_lo
        if b_hi is not None:
            cond = cond & (F.col("doc_id") < b_hi)
        # no stats_columns: appends must INHERIT the table's
        write_parquet_snapshot(
            d.where(cond).coalesce(1), tbl, mode="append"
        )
    snap4 = list_parquet_snapshots(tbl)[-1]
    v1_files = set(list_parquet_snapshots(tbl)[0]["files"])
    stats_cover = int(
        snap4.get("stats_columns") == ["doc_id"]
        and set(snap4.get("stats", {})) == set(snap4["files"])
    )
    pruned = read_parquet_snapshot(spark, tbl, where={"doc_id": (lo, hi)})
    pruned_files = len(pruned.inputFiles())
    pruned_agg = pruned.agg(
        F.count(F.lit(1)).cast("bigint").alias("pruned_docs"),
        F.sum("doc_id").cast("bigint").alias("pruned_sum_id"),
    )
    comp = compact_parquet_snapshot(
        spark, tbl, target_files=2, cluster_by=["doc_id"]
    )
    snap_c = list_parquet_snapshots(tbl)[-1]
    spans = sorted(s["doc_id"] for s in snap_c["stats"].values())
    disjoint = int(
        all(a_hi < b_lo for (_, a_hi), (b_lo, _) in zip(spans, spans[1:]))
    )
    post = read_parquet_snapshot(
        spark, tbl, version=comp["version"], where={"doc_id": (None, lo)}
    )
    post_files = len(post.inputFiles())
    post_agg = post.agg(
        F.count(F.lit(1)).cast("bigint").alias("postcompact_docs"),
        F.sum("doc_id").cast("bigint").alias("postcompact_sum_id"),
    )
    delete_from_snapshot(spark, tbl, "doc_id % 7 = 3")
    # the append-only sub-feed (v1→v4) must plan over ONLY the files
    # v2-v4 added — inputFiles is driver-side plan metadata, no job;
    # its file: URIs and the manifest's names compare canonically
    append_feed = snapshot_changes(spark, tbl, 1, 4)
    isolated = int(
        not (
            set(map(_local_path, append_feed.inputFiles()))
            & set(map(_local_path, v1_files))
        )
    )
    feed = snapshot_changes(spark, tbl, 1)
    ins = F.col("_change_type") == "insert"
    feed_agg = feed.agg(
        F.count(F.when(ins, 1)).cast("bigint").alias("feed_inserts"),
        F.sum(F.when(ins, F.col("doc_id")))
        .cast("bigint")
        .alias("feed_insert_sum"),
        F.count(F.when(~ins, 1)).cast("bigint").alias("feed_deletes"),
        F.sum(F.when(~ins, F.col("doc_id")))
        .cast("bigint")
        .alias("feed_delete_sum"),
        F.countDistinct("_commit_version")
        .cast("bigint")
        .alias("feed_versions"),
    )
    latest_agg = read_parquet_snapshot(spark, tbl).agg(
        F.count(F.lit(1)).cast("bigint").alias("latest_docs")
    )
    consts = [
        ("total_files", len(snap4["files"])),
        ("stats_cover", stats_cover),
        ("pruned_files", pruned_files),
        ("compact_files", len(snap_c["files"])),
        ("compact_disjoint", disjoint),
        ("postcompact_pruned_files", post_files),
        ("feed_append_scan_isolated", isolated),
    ]
    return _metric_rows(
        pruned_agg.crossJoin(post_agg)
        .crossJoin(feed_agg)
        .crossJoin(latest_agg),
        consts,
    )


@query(
    "e18_snapshot_stream_source",
    # The snapshot table as a streaming SOURCE (r13,
    # io/snapshot_source.py — the read-side twin of e15's sink): three
    # checkpointed availableNow drains tail the table's version log into
    # a parquet sink. Drain 1 consumes v1 (overwrite = initial content,
    # %4==0) + v2 (append, %4==1); drain 2 consumes v3 (append, %4==2)
    # + v4 (compact — must contribute NOTHING, and the next diff must be
    # against the compacted file set); drain 3 consumes v5 (append,
    # %4==3). The per-drain cumulative counts are oracle-recomputed from
    # source, so a source that re-emitted a consumed version (broken
    # exactly-once), emitted compacted rows (double count), or dropped
    # an append flips the hash; the final output multiset rides the
    # Spark aggregate.
    oracle="""
    SELECT 'after_drain1' AS metric,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE doc_id % 4 IN (0, 1)) AS value
    UNION ALL SELECT 'after_drain2',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 4 IN (0, 1, 2))
    UNION ALL SELECT 'stream_schema_cols', 2
    UNION ALL SELECT 'total_rows',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
    UNION ALL SELECT 'total_sum_id',
        (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents)
    """,
)
def e18_snapshot_stream_source(spark, sf_dir):
    """The snapshot table as a streaming SOURCE, driver-attested (r13)
    — e15 attests the loop that FEEDS a snapshot table; this attests
    the loop that TAILS one: a Python DataSourceStreamReader whose
    offsets are version numbers, whose partitions are the files each
    version added (manifest set-difference, no data scan), and whose
    exactly-once story is manifest/file immutability. Three drains over
    one checkpoint prove initial-content + incremental consumption,
    replay-free restarts, and that a content-identical compaction
    contributes nothing while the append AFTER it diffs against the
    compacted file set. Construction-time drains in a
    :func:`registry.scratch_dir`, as e15."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.io.snapshot_source import (
        register_snapshot_stream,
    )

    register_snapshot_stream(spark)
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tmp = scratch_dir("e18_snapshot_stream_source")
    tbl, out, ckpt = f"{tmp}/tbl", f"{tmp}/out", f"{tmp}/ckpt"

    def tail():
        drain(
            spark.readStream.format("snapshot_stream")
            .load(tbl)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt),
            "e18_snapshot_stream_source",
        )

    write_parquet_snapshot(d.where(F.col("doc_id") % 4 == 0), tbl)
    write_parquet_snapshot(
        d.where(F.col("doc_id") % 4 == 1), tbl, mode="append"
    )
    tail()  # v1 initial content + v2 append
    # the cumulative counts feed the after_drain metrics; the last
    # drain is counted only by the final agg, which reads `out` once
    after_d1 = spark.read.parquet(out).count()
    write_parquet_snapshot(
        d.where(F.col("doc_id") % 4 == 2), tbl, mode="append"
    )
    compact_parquet_snapshot(spark, tbl, target_files=1)
    tail()  # v3 only: the compaction must add nothing
    after_d2 = spark.read.parquet(out).count()
    write_parquet_snapshot(
        d.where(F.col("doc_id") % 4 == 3), tbl, mode="append"
    )
    tail()  # v5, diffed against the COMPACTED file set
    final = spark.read.parquet(out)
    agg = final.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_rows"),
        F.sum("doc_id").cast("bigint").alias("total_sum_id"),
    )
    return _metric_rows(
        agg,
        [
            ("after_drain1", after_d1),
            ("after_drain2", after_d2),
            ("stream_schema_cols", len(final.columns)),
        ],
    )


@query(
    "e15_snapshot_sink_stream",
    # batch b consumes source file b (modTime-ordered): version 1 = the
    # %3==0 slice, version 2 = slices 0+1. The oracle recomputes both
    # table states from the source; the version→src_batch binding rides
    # the hashed rows.
    oracle="""
    SELECT 1 AS version, CAST(0 AS BIGINT) AS src_batch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_id
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 2 AS version, CAST(1 AS BIGINT) AS src_batch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_id
    FROM documents WHERE doc_id % 3 IN (0, 1)
    """,
)
def e15_snapshot_sink_stream(spark, sf_dir):
    """The STREAMING snapshot sink end-to-end under the driver gate
    (r10) — o13 attests the MVCC table; this attests the loop that
    feeds it: two source files drain through an availableNow stream
    whose every micro-batch publishes ONE table version
    (``io.writers.streaming_snapshot_sink``), then both versions are
    read back BY VERSION with their manifest ``src_batch`` stamps and
    aggregated. The version→batch binding and both historical table
    states enter the hash, so a sink that double-published a replayed
    batch, skipped one, or tore a manifest flips the result.
    Construction-time drain in a :func:`registry.scratch_dir`."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    tmp = scratch_dir("e15_snapshot_sink_stream")
    src, tbl, ckpt = f"{tmp}/src", f"{tmp}/tbl", f"{tmp}/ckpt"
    write_ordered_files(
        src, [d.where(F.col("doc_id") % 3 == m) for m in (0, 1)]
    )
    drain(
        streaming_snapshot_sink(
            spark.readStream.schema("doc_id bigint, lang string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            tbl,
            ckpt,
        ),
        "e15_snapshot_sink_stream",
    )
    snaps = {s["version"]: s for s in list_parquet_snapshots(tbl)}
    outs = []
    for v in (1, 2):
        outs.append(
            read_parquet_snapshot(spark, tbl, version=v).agg(
                F.lit(v).alias("version"),
                F.lit(int(snaps[v]["src_batch"]))
                .cast("bigint")
                .alias("src_batch"),
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("doc_id").cast("bigint").alias("sum_id"),
            )
        )
    return outs[0].unionByName(outs[1])


_MIX_W = (
    "CAST(CASE lang WHEN 'de' THEN 0.5 WHEN 'en' THEN 1.0 "
    "WHEN 'fr' THEN 1.0 WHEN 'zh' THEN 2.0 ELSE 0.0 END AS DOUBLE)"
)


@query(
    "o06_temperature_mixture",
    # identical double expression tree as the Spark plan — only IEEE
    # +,-,×,÷ (inv_temperature applied as w*w, never pow()), so the
    # 16-bit gate thresholds match bit-for-bit. Every numeric literal is
    # CAST to DOUBLE explicitly: DuckDB types bare `0.3` as DECIMAL and
    # would compute 0.3*ntot in exact decimal arithmetic — a DIFFERENT
    # value from Spark's fl(0.3d·ntot) for many ntot, which could flip a
    # floor() at an integer boundary and diverge the thresholds. zh's
    # rate caps ≥ 1 and exercises the keep-all 'g' branch in BOTH
    # engines, es has weight 0 and drops entirely.
    oracle=f"""
    WITH counts AS (
      SELECT lang AS src, COUNT(*) AS n,
             {_MIX_W} * {_MIX_W} AS sw
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n) AS ntot, SUM(sw) AS swtot FROM counts),
    rates AS (
      SELECT src,
             CASE WHEN r >= 1.0 THEN 'g'
                  ELSE printf('%04x', least(
                    CAST(floor(r * 65536.0::DOUBLE) AS INT), 65535))
                  END AS thresh
      FROM (SELECT src,
                   0.3::DOUBLE * CAST(ntot AS DOUBLE) * (sw / swtot)
                     / CAST(n AS DOUBLE) AS r
            FROM counts CROSS JOIN tot)
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates ON d.lang = rates.src
    WHERE substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 4) < thresh
    """,
)
def o06_temperature_mixture(spark, sf_dir):
    """Temperature-scaled dataset mixing (T=1/2, budget 30%): source
    share ∝ w², per-source keep-rate = min(1, budget·N·share/n) decided
    by the o05/d08 md5 gate — the corpus-rebalancing step of an LLM data
    pipeline, fully in-plan (rates come from one tiny broadcast
    aggregate, never a driver round-trip;
    llmdata/sampling.temperature_mixture_sample). Upweighted-but-rare zh
    saturates at keep-everything; unlisted es drops to zero."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        temperature_mixture_sample,
    )

    d = table(spark, sf_dir, "documents")
    return temperature_mixture_sample(
        d,
        "doc_id",
        "lang",
        weights={"en": 1.0, "zh": 2.0, "de": 0.5, "fr": 1.0},
        inv_temperature=2,
        budget=0.3,
    ).select("doc_id", "lang")


@query(
    "d08_leakage_free_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5('split' || md5(text)), 1, 4) < 'e666'
                THEN 'train' ELSE 'eval' END AS split
    FROM documents
    """,
)
def d08_leakage_free_split(spark, sf_dir):
    """Train/eval split keyed on a CONTENT fingerprint (md5 of the raw
    text), not the row id: byte-identical duplicates always land on the
    same side, so dedup-survivor choice can't contaminate eval. 90/10 via
    the same deterministic md5-prefix gate as o05 (different salt —
    independent decisions). Row-local projection, no shuffle."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        leakage_free_split,
    )

    d = table(spark, sf_dir, "documents")
    return leakage_free_split(
        d, "doc_id", group_key=F.md5("text"), train_rate=0.9
    ).select("doc_id", "split")


@query(
    "t10_sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    offs AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS "offset"
      FROM toks
    )
    SELECT doc_id, n_tokens, "offset",
           CAST("offset" // 512 AS BIGINT) AS seq_id,
           (CAST(("offset" + n_tokens - 1) // 512 AS BIGINT)
              > CAST("offset" // 512 AS BIGINT)) AS straddles
    FROM offs
    """,
)
def t10_sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing (seq_len=512): every document's
    global token offset, its first sequence id, and whether it straddles a
    sequence boundary — the pretraining chunker's bookkeeping. Runs the
    two-level distributed prefix sum (llmdata/packing.py): per-chunk local
    window sums in parallel, a tiny single-partition prefix over the
    per-chunk totals, broadcast join back — the naive formulation the
    oracle uses (one global ORDER BY window) is correct SQL but collapses
    Spark to a single partition at scale. Equality of the two is exactly
    what the hash-compare proves."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import token_count
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.packing import (
        pack_sequences,
    )

    d = table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(d, "doc_id", "n_tokens", seq_len=512)


@query(
    "m05_audio_frame_energy",
    oracle="""
    WITH s AS (
      SELECT doc_id, frame_idx,
             ((doc_id * 31 + (frame_idx * 64 + j) * 17) % 65536 - 32768) AS v
      FROM documents,
           generate_series(0, 3) AS g1(frame_idx),
           generate_series(0, 63) AS g2(j)
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(SUM(v * v) AS BIGINT) AS energy
    FROM s GROUP BY 1, 2
    """,
)
def m05_audio_frame_energy(spark, sf_dir):
    """Audio modality end-to-end: synthesize REAL RIFF/WAVE PCM16 payloads
    per document (samples from a pure integer formula of (doc_id, i)),
    then decode + frame into 64-sample windows and emit integer-exact
    energies — 256 samples -> 4 frames per doc. The oracle recomputes the
    same energies symbolically from the formula, so a hash match proves
    the encode->decode->frame byte path, not just the arithmetic
    (llmdata/audio.py; the audio twin of m04's BMP roundtrip)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.audio import (
        audio_frame_energy,
        synthesize_pcm,
    )

    d = table(spark, sf_dir, "documents")
    wav = synthesize_pcm(d, "doc_id", n_samples=256)
    return audio_frame_energy(wav, "doc_id", "payload", frame_len=64)


def _chunk_ctes(batch: str = "") -> str:
    """d14's span chain over an ``arrs(doc_id, w)`` CTE: the 10-word
    ``chunks``, each chunk's corpus-wide first occurrence (``firsts``) and
    the documents ``rebuilt`` from their surviving chunks. With an
    arrival batch column ``batch`` (d19) the chunks carry it and the
    first occurrence ranks by it before ``(doc_id, pos)``."""
    carry, rank = (f", {batch}", f"{batch}, ") if batch else ("", "")
    return f"""chunks AS (
      SELECT doc_id{carry},
             unnest(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS pos,
             unnest(list_transform(range(CAST(ceil(len(w) / 10.0) AS BIGINT)),
                    i -> array_to_string(w[i*10+1 : i*10+10], ' '))) AS chunk
      FROM arrs
    ),
    firsts AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                  ORDER BY {rank}doc_id, pos) AS rn
        FROM chunks) WHERE rn = 1
    ),
    rebuilt AS (
      SELECT c.doc_id,
             string_agg(c.chunk, ' ' ORDER BY c.pos) AS clean_text,
             COUNT(*) AS n_kept
      FROM chunks c JOIN firsts f ON c.doc_id = f.doc_id AND c.pos = f.pos
      GROUP BY c.doc_id
    )"""


# d19's arrival split, shared by d20/d22: a third of the corpus seeds the
# checkpoint (b = -1) and the rest arrives as batches 0 and 1, ids
# interleaved across batches
_ARRIVAL_B = """CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN -1 WHEN 1 THEN 0 ELSE 1 END AS b"""


@query(
    "d14_chunk_dedup_keep_first",
    # the oracle uses a ROW_NUMBER window over md5(chunk) — fine for an
    # oracle; the ENGINE deliberately uses a min(struct) aggregate
    # instead, because the window's hot keys are exactly the boilerplate
    # being removed (see llmdata/dedup.chunk_dedup_keep_first)
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    {_chunk_ctes()},
    totals AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
      FROM chunks GROUP BY doc_id
    )
    SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text, t.n_chunks,
           CAST(t.n_chunks - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped
    FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
    """,
)
def d14_chunk_dedup_keep_first(spark, sf_dir):
    """Span-level corpus dedup (CCNet/C4-style repeated-span removal):
    10-word chunks, corpus-wide first occurrence kept by (doc_id, pos)
    order, documents reassembled from their surviving chunks — the
    cleanup that strips boilerplate repeated ACROSS documents that
    doc-level dedup can't see. The hash covers the reassembled text
    itself, so a match proves chunking, first-occurrence selection, and
    ordered reassembly all agree with the oracle."""
    d = table(spark, sf_dir, "documents")
    return dedup.chunk_dedup_keep_first(d, "doc_id", "text", chunk_words=10)


@query(
    "o09_cluster_balanced_sample",
    oracle=f"""
    WITH {_IVF_CELLS_CTES},
    picked AS (
      SELECT cell, vec_id,
             ROW_NUMBER() OVER (PARTITION BY cell
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM cells)
    SELECT CAST(cell AS BIGINT) AS cell, vec_id
    FROM picked WHERE rn <= 10
    """,
)
def o09_cluster_balanced_sample(spark, sf_dir):
    """Curation-family composition — cluster-balanced (diversity)
    sampling: assign every embedding to its IVF cell (s03's coarse
    quantizer), then keep a deterministic hash-ranked 10 per cell —
    equal representation from every region of embedding space, the
    anti-mode-collapse subset selection a training-data pipeline runs
    where a plain uniform sample would mirror the corpus's cluster
    imbalance. The hash rank (o04's policy) makes the per-cell pick
    reproducible across runs/engines/layouts. Shape: broadcast-centroid
    assignment (no shuffle), ONE bounded window per cell (partition
    count = n_centroids, each ranked list cut at 10)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators import windows

    e = table(spark, sf_dir, "embeddings")
    cells = similarity.ivf_assign_cells(e, "vec_id", "embedding", n_centroids=16)
    picked = windows.top_n_per_group(
        cells,
        ["cell"],
        [F.md5(F.col("vec_id").cast("string")), F.asc("vec_id")],
        n=10,
    )
    return picked.select(F.col("cell").cast("bigint").alias("cell"), "vec_id")


@query(
    "s05_ann_recall",
    # both pipelines (exact + bucketed) rebuilt in SQL over s02's
    # _BUCKET_PROBE_CTES, then joined — the oracle hashes the recall numbers
    oracle=f"""
    WITH {_BUCKET_PROBE_CTES},
    exact_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, v.vec_id AS neighbor_id,
               {sql_round(_cos_sql("q", "e"), 4)} AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY {sql_round(_cos_sql("q", "e"), 4)} DESC, v.vec_id)
                 AS rank
        FROM v CROSS JOIN probes WHERE v.vec_id <> query_id)
      WHERE rank <= 5
    ),
    ann_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, v.vec_id AS neighbor_id,
               {sql_round(_cos_sql("q", "e"), 4)} AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY {sql_round(_cos_sql("q", "e"), 4)} DESC, v.vec_id)
                 AS rank
        FROM v JOIN probes USING (bucket) WHERE v.vec_id <> query_id)
      WHERE rank <= 5
    )
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           {sql_round("COUNT(a.neighbor_id) / 5.0", 2)} AS recall_at_5
    FROM exact_top e LEFT JOIN ann_top a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """,
)
def s05_ann_recall(spark, sf_dir):
    """Similarity-family completion — MEASURED recall of the ANN path:
    per probe, how many of the exact top-5 (s01) the sign-bucket ANN
    (s02) actually returned. The recall/cost trade the ANN docstrings
    assert becomes a first-class, oracle-checked number — the evaluation
    harness a 100 TB ANN deployment runs on a sampled probe set before
    trusting the approximate path for a use case. Shape: the embeddings
    frame is CACHED for the eval — the exact and ANN pipelines each
    consume it on both the probe and corpus side, and uncached the
    parquet scan re-ran four times; at eval scale the frame fits (and a
    true 100 TB recall eval samples the corpus side too — exact
    brute-force over the full corpus is the cost being avoided). The
    final join is on (query, neighbor) pairs — k×probes rows, trivially
    small."""
    e = tracked_cache(table(spark, sf_dir, "embeddings"))
    exact = similarity.brute_force_topk(e, "vec_id", "embedding", _PROBES, k=5)
    ann = similarity.bucketed_topk(e, "vec_id", "embedding", _PROBES, k=5, m=8)
    hits = exact.select("query_id", "neighbor_id").join(
        ann.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
        pround(F.sum(F.coalesce("hit", F.lit(0))) / 5.0, 2).alias(
            "recall_at_5"
        ),
    )


@query(
    "m06_resize_nn",
    # nearest-neighbor sampling is pure integer index math over the
    # UTF-8 byte grid the BMP encodes, so the resized checksum is
    # closed-form: byte[(r*ht div 4)*16 + (c*16 div 4)] summed over the
    # 4x4 target grid
    oracle=f"""
    WITH {_DIMS_CTES},
    cells AS (
      SELECT doc_id,
             CAST(list_aggregate(
               list_transform(range(0, 16),
                 i -> CAST(('0x' || substr(h,
                        (((i // 4) * ht // 4) * 16 + ((i % 4) * 16 // 4))
                          * 2 + 1, 2)) AS INT)),
               'sum') AS BIGINT) AS pix_sum
      FROM dims
    )
    SELECT doc_id, CAST(4 AS INT) AS out_h, CAST(4 AS INT) AS out_w, pix_sum
    FROM cells
    """,
)
def m06_resize_nn(spark, sf_dir):
    """Multimodal completion — RESIZE, the remaining step of the decode/
    feature-extract/resize/frame-sample quartet: real BMP payloads
    (UTF-8 byte grids) downsampled 4×4 by nearest neighbor inside the
    Arrow mapInPandas path, attested by a closed-form byte-index oracle
    (NN is the one resize kernel two engines can agree on bit-for-bit;
    interpolating kernels are library-specific fp and belong behind the
    same seam PIL decoding uses)."""
    d = table(spark, sf_dir, "documents")
    imgs = multimodal.encode_text_as_bmp(d, "doc_id", "text", width=16)
    return multimodal.resize_image_nn(imgs, out_h=4, out_w=4)


@query(
    "d16_containment_neardup",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_OVERLAP_CTES},
    scored AS (
      SELECT CASE WHEN sa.n_sh < sb.n_sh
                    OR (sa.n_sh = sb.n_sh AND id_a < id_b)
                  THEN id_a ELSE id_b END AS id_small,
             CASE WHEN sa.n_sh < sb.n_sh
                    OR (sa.n_sh = sb.n_sh AND id_a < id_b)
                  THEN id_b ELSE id_a END AS id_big,
             {sql_round("n_inter / least(sa.n_sh, sb.n_sh)", 4)}
               AS containment
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
    SELECT id_small, id_big, containment FROM scored
    WHERE containment >= 0.8
    """,
)
def d16_containment_neardup(spark, sf_dir):
    """Dedup-family completion — asymmetric shingle CONTAINMENT
    (|A∩B|/min(|A|,|B|) ≥ 0.8): a small document embedded inside a
    larger one scores ~1.0 here while its symmetric Jaccard (d03) sits
    near |A|/|B| — structurally invisible to every symmetric detector in
    the d-family. Same inverted-index single-aggregate shape as d03
    (pairs sharing a shingle, never all-pairs); the pair is oriented
    (small, big) so the score reads as the smaller doc's covered
    fraction. One physical plan, built without running a Spark job."""
    d = table(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, "doc_id", "text", k=3, threshold=0.8)


@query(
    "m07_audio_decimate",
    # decimation keeps samples at indices 0,4,...,252 of the 256-sample
    # synthetic formula; the checksum is position-weighted int math the
    # oracle recomputes symbolically (m05's trick on the strided signal)
    oracle="""
    WITH s AS (
      SELECT doc_id, j,
             ((doc_id * 31 + (j * 4) * 17) % 65536 - 32768) AS v
      FROM documents, generate_series(0, 63) AS g(j)
    )
    SELECT doc_id, CAST(64 AS BIGINT) AS n_out,
           CAST(SUM((j + 1) * v) AS BIGINT) AS checksum
    FROM s GROUP BY doc_id
    """,
)
def m07_audio_decimate(spark, sf_dir):
    """Audio-family completion — integer decimation (every 4th sample of
    the 256-sample PCM16 payload), the resample step next to m05's frame
    energies: real RIFF bytes decoded and strided inside mapInPandas,
    attested by a position-weighted checksum the oracle recomputes from
    the synthesis formula — a hash match proves the byte path AND that
    no sample slipped position. Interpolating/filtering resamplers are
    library fp and stay behind the gated codec seam, same policy as
    m06's resize kernel."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.audio import (
        audio_decimate,
        synthesize_pcm,
    )

    d = table(spark, sf_dir, "documents")
    wav = synthesize_pcm(d, "doc_id", n_samples=256)
    return audio_decimate(wav, "doc_id", "payload", factor=4)


# d18 scorer auto-dispatch cut. RE-MEASURED r16 (the r15 battery/HOF
# text-fn wins made the interpreted local path ~16× cheaper per doc
# than the r7 numbers this cut was derived from): cold end-to-end at
# sf0.1 local[32], clearCache between runs, corpus scaled by explode —
# n=5000 local 1.45s / agg 0.98s; 20k 3.88/1.49; 80k 13.5/3.19 ⇒
# marginal ≈160 µs/doc interpreted vs ≈29 µs/doc codegen, fixed-cost
# gap (the agg path's two extra exchanges + join) ≈ 0.45s ⇒ cold
# crossover ≈ 1.4k docs. Above it the per-doc interpreter bill only
# grows more lopsided at 100 TB; below it the shuffle fixed cost
# dominates and row-local wins.
_D18_AGG_MIN_DOCS = 1500

# The curation chain's shared contract (review r9): d18 (the pipeline)
# and d21 (its funnel report) gate, weigh, and sample through ONE set of
# constants and ONE scored-frame builder, so tuning the pipeline cannot
# silently leave the report describing a different chain — the same
# by-construction coupling the oracle side gets from sharing _NORM /
# _QUALITY_EXPR fragments.
_CURATION_MIN_TOKS = 30
_CURATION_MIN_Q = 0.35
_CURATION_MAX_REP = 0.05
_CURATION_SALT = "cur|"

# the curation gate's three scores over t12's grams CTE (d18, d21)
_CURATION_SCORES = f"""len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks,
             {sql_round(_QUALITY_EXPR, 4)} AS q,
             {sql_round("CASE WHEN len(g) > 0 THEN (len(g) - len(list_distinct(g))) / CAST(len(g) AS DOUBLE) ELSE 0.0 END", 4)}
               AS rep"""


def _curation_scored(d, scorer: str):
    """The curation chain's CACHED score frame — ``(doc_id, fp, n_toks,
    q, rep)``, text-free and tiny. The gate's three scores are computed
    ONCE as named columns (t12's struct helper re-evaluates its
    regex-heavy predicates for the audit ``reasons``, which the chain
    doesn't need — measured 30s naive / 13s struct-gated / ~2s this way
    at sf0.1) and the frame is cached because MULTIPLE consumers read it
    (the keeper aggregate and survivor join in d18; the flag projection
    referencing the scores several times in d21) — ReuseExchange never
    deduplicates across differing projections, and pushing the ``rep``
    threshold into the projection would re-inline the interpreted n-gram
    chain per reference (the measured d18-profile trap).

    Cache lifetime (ADVICE r9, closed r11): each CALL caches a fresh
    frame, registered with the plan-cache registry — a resident service
    embedding these plans releases them at request end via
    ``registry.release_plan_caches()`` (the caller-owned unpersist seam
    VERDICT r10 #5b asked for); the bench/attestation harnesses keep
    clearing the whole session cache between runs, which is equivalent
    for them."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.compat import (
        pround as _pr,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        quality_score,
        repetition_ratio,
        repetition_ratio_agg,
        token_count,
    )

    base_cols = [
        F.col("doc_id"),
        F.md5(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
        ).alias("fp"),
        token_count(F.col("text")).alias("n_toks"),
        _pr(quality_score(F.col("text")), 4).alias("q"),
    ]
    if scorer == "agg":
        rep = repetition_ratio_agg(d, "doc_id", "text", 3)
        return tracked_cache(
            d.select(*base_cols)
            .join(rep, "doc_id")
            .withColumnRenamed("rep_ratio", "rep")
        )
    return tracked_cache(
        d.select(
            *base_cols,
            _pr(repetition_ratio(F.col("text"), 3), 4).alias("rep"),
        )
    )


def _curation_gate():
    """The Gopher-style keep predicate over the scored frame's columns."""
    return (
        (F.col("n_toks") >= _CURATION_MIN_TOKS)
        & (F.col("q") >= _CURATION_MIN_Q)
        & (F.col("rep") <= _CURATION_MAX_REP)
    )


@query(
    "d18_curation_pipeline",
    # t12's GRAMS_CTES scored by _CURATION_SCORES ∘ d01's keep-first ∘
    # o08's weighted gate
    oracle=f"""
    WITH {GRAMS_CTES},
    feats AS (
      SELECT doc_id, text,
             {_CURATION_SCORES}
      FROM grams
    ),
    kept AS (
      SELECT doc_id, text, greatest(q, 0.0) AS weight FROM feats
      WHERE n_toks >= 30 AND q >= 0.35 AND rep <= 0.05
    ),
    keepers AS (
      SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
             MIN(doc_id) AS doc_id
      FROM kept GROUP BY 1
    ),
    survivors AS (
      SELECT k.doc_id, kt.weight
      FROM keepers k JOIN kept kt ON k.doc_id = kt.doc_id
    )
    SELECT doc_id, weight FROM survivors
    WHERE substr(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE WHEN weight >= 1.0 THEN 'g'
               ELSE printf('%04x', least(
                 CAST(floor(weight * 65536.0) AS INT), 65535)) END
    """,
)
def d18_curation_pipeline(spark, sf_dir):
    """The canonical curation chain as ONE composed plan — the d12
    pattern applied to the quality axis: t12's Gopher gate drops junk,
    d01's keep-first collapses exact duplicates among the keepers
    (min-doc_id per fingerprint — dedup AFTER gating so a junk copy
    can't shadow a clean one), then o08's per-row weighted gate samples
    survivors proportional to their own quality. Every stage reuses the
    attested component (quality_gate / exact_duplicates' fp / the
    rate-threshold gate), and the oracle is assembled from the same SQL
    fragments the standalone oracles use — so the composition cannot
    silently diverge from its parts. Shape: the gate and both hash
    gates are row-local; the ONLY shuffle is the d01 fingerprint
    aggregate + its keeper join-back, both keyed on the 16-byte md5.

    The repetition score's physical plan follows the corpus size: below
    ``_D18_AGG_MIN_DOCS`` documents the row-local
    :func:`repetition_ratio` (zero shuffle, but its ``array_distinct``
    is interpreted); at or above it :func:`repetition_ratio_agg`, the
    codegen twin (explode k-grams → hash aggregate → join back: two
    extra exchanges keyed on doc_id, but whole-stage-codegen CPU) —
    above the cut the per-doc interpreter bill dwarfs the fixed shuffle
    cost. The size probe (VERDICT r8 #5) is a BOUNDED
    ``limit(_D18_AGG_MIN_DOCS).count()`` — a few-row task even on a
    non-parquet source — so the choice is deterministic for a given
    input, never clock- or sample-based. Both paths round to 4dp and
    are equivalence-tested, so the oracle — and every downstream value —
    is identical either way."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        weighted_hash_sample,
    )

    d = table(spark, sf_dir, "documents")
    at_least = d.limit(_D18_AGG_MIN_DOCS).count() >= _D18_AGG_MIN_DOCS
    scored = _curation_scored(d, "agg" if at_least else "local")
    kept = scored.where(_curation_gate()).select(
        "doc_id", "fp", F.greatest(F.col("q"), F.lit(0.0)).alias("weight")
    )
    # keep-first as ONE window over fp (optimization r16, guide §2.4):
    # the former groupBy(fp)→min(doc_id) frame joined back on doc_id
    # cost an fp agg exchange PLUS a doc_id exchange of EACH join side —
    # at scale the keeper set is ~distinct-contents-sized (never
    # broadcastable), so that was two extra full shuffles of the kept
    # corpus; the window needs exactly one exchange of `kept` on fp,
    # with per-partition sort bounded by duplicate-cluster size. Value-
    # identical under d18's documented unique-doc_id seam contract
    # (d21's keeper flag already uses this same window shape), oracle-
    # verified at sf0.001/0.01/0.1.
    from pyspark.sql.window import Window as _W

    survivors = (
        kept.withColumn(
            "__keep_min", F.min("doc_id").over(_W.partitionBy("fp"))
        )
        .where(F.col("doc_id") == F.col("__keep_min"))
        .select("doc_id", "weight")
    )
    return weighted_hash_sample(
        survivors, "doc_id", F.col("weight"), salt=_CURATION_SALT
    ).select("doc_id", "weight")


@query(
    "d19_chunk_ingest_incremental",
    # d14's _chunk_ctes over the _ARRIVAL_B split, with the arrival-batch
    # rank: first occurrence is by (batch, doc_id, pos), which is exactly
    # what seeding the checkpoint then ingesting batches in order
    # produces. Seed docs (b = -1) feed the state but emit no
    # output rows.
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id,
             {_ARRIVAL_B},
             string_split(text, ' ') AS w
      FROM documents
    ),
    {_chunk_ctes("b")},
    totals AS (
      SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n_chunks
      FROM chunks WHERE b >= 0 GROUP BY doc_id, b
    )
    SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text, t.n_chunks,
           CAST(t.n_chunks - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped,
           CAST(t.b AS INT) AS ingest_batch
    FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
    """,
)
def d19_chunk_ingest_incremental(spark, sf_dir):
    """The r8 incremental span-dedup twin as a BATCH-COMPOSABLE query
    (VERDICT r8 #3): seed a chunk checkpoint from a third of the corpus
    (``doc_id % 3 == 0``), then push the other two thirds through
    :func:`llmdata.dedup.chunk_ingest_batch_idempotent` as two ordered
    micro-batches — the exact production ingest loop the streaming twin
    drives, now driver-attested end-to-end (checkpoint write, state
    probe/anti-join, within-batch first-occurrence, reassembly, AND the
    per-batch dynamic-overwrite publish, since the returned frame READS
    BACK the published parquet). The modulo split interleaves doc ids
    across batches on purpose: arrival order ≠ id order, so the oracle's
    (batch, doc_id, pos) first-occurrence rank is only reproduced if the
    state probe really beats within-batch id order — an id-ordered split
    couldn't tell the two apart. Scratch state lives in a
    :func:`registry.scratch_dir`, which outlives the returned (lazy)
    DataFrame until the process exits; a few hundred KB at attestation
    SFs.

    ``n_buckets=16``, not the 64 default: the grid must be sized to the
    STATE (per-bucket state around file-sized, not row-sized) — each
    bucket is a partition directory whose per-write commit costs more
    than its data at this corpus's ~10k-chunk state (measured: the
    64-dir seed write was 2.75s vs 0.45s flat for 9.5k rows — pure
    commit overhead). 16 still exercises the pruning path end-to-end;
    a 100 TB deployment sizes upward instead."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = scratch_dir("d19_chunk_ingest_incremental")
    chunk_path, out = f"{tmp}/chunks", f"{tmp}/out"
    dedup.write_chunk_checkpoint(
        d.where(F.col("doc_id") % 3 == 0), chunk_path, "doc_id", "text",
        n_buckets=16,
    )
    for b, m in ((0, 1), (1, 2)):
        dedup.chunk_ingest_batch_idempotent(
            d.where(F.col("doc_id") % 3 == m), b, chunk_path, out
        )
    # explicit schema: an all-duplicate (or empty) batch publishes NO
    # parquet files under its partition, and a run where every batch
    # does so leaves the directory with no readable footers — schema
    # inference would throw instead of returning the empty frame the
    # query semantics call for
    return spark.read.schema(
        "doc_id bigint, clean_text string, n_chunks bigint, "
        "n_dropped bigint, ingest_batch int"
    ).parquet(out).select(
        "doc_id", "clean_text", "n_chunks", "n_dropped", "ingest_batch"
    )


# d20's admissions: the arrival-split docs' MinHash bands (seed b = -1),
# batch 0's near-dups of the seed (dup0), batch 0's admitted docs (adm0)
# and batch 1's near-dups of the seed and of adm0 (dup1)
_ADMISSION_CTES = f"""toks AS (
      SELECT doc_id,
             {_ARRIVAL_B},
             string_split({_NORM}, ' ') AS w
      FROM documents
    ),
    {_minhash_ctes("b")},
    dup0 AS (
      SELECT DISTINCT n.doc_id
      FROM bands n JOIN bands c
        ON n.band = c.band AND n.band_sig = c.band_sig AND c.b = -1
      WHERE n.b = 0
    ),
    adm0 AS (
      SELECT doc_id FROM documents
      WHERE CAST(doc_id % 3 AS INT) = 1
        AND doc_id NOT IN (SELECT doc_id FROM dup0)
    ),
    dup1 AS (
      SELECT DISTINCT n.doc_id
      FROM bands n JOIN bands c
        ON n.band = c.band AND n.band_sig = c.band_sig
      WHERE n.b = 1
        AND (c.b = -1
             OR (c.b = 0 AND c.doc_id IN (SELECT doc_id FROM adm0)))
    )"""


@query(
    "d20_band_ingest_incremental",
    # _ADMISSION_CTES: d02's _minhash_ctes with the arrival batch carried.
    # Batch-0 admissions dedup against the seed's bands only; batch-1
    # admissions dedup against seed + batch-0 ADMITTED docs (rejected
    # docs never append their bands). Cross-side pairs only — intra-batch
    # near-dups are both admitted, exactly the incremental operator's
    # semantics. Docs too short to shingle have no bands and are always
    # admitted on both sides.
    oracle=f"""
    WITH {_ADMISSION_CTES}
    SELECT doc_id, CAST(0 AS INT) AS ingest_batch FROM adm0
    UNION ALL
    SELECT doc_id, CAST(1 AS INT) AS ingest_batch FROM documents
    WHERE CAST(doc_id % 3 AS INT) = 2
      AND doc_id NOT IN (SELECT doc_id FROM dup1)
    """,
)
def d20_band_ingest_incremental(spark, sf_dir):
    """The d11 LSH ingest loop as a batch-composable, driver-attestable
    query — d19's band-side twin: seed a band checkpoint from a third of
    the corpus, push the other two thirds through
    :func:`llmdata.dedup.ingest_batch_idempotent` as two ordered
    micro-batches, read back the admitted docs per batch. This drives
    the state machinery end-to-end under the oracle gate: the
    high-water guard and the manifest publish that commits each batch,
    the sigb-bucketed checkpoint probe (batch-1's read opens only the
    files of its batch's sigb cells), the validated append of batch-0's
    bands, and the per-batch dynamic overwrite publish. The modulo split interleaves ids across batches
    so arrival order ≠ id order, same rationale as d19. Scratch state in
    a :func:`registry.scratch_dir`, which outlives the returned lazy
    frame.
    ``n_sig_buckets=4`` (4 bands x 4 = 16 grid cells), not the 16
    default: d19's grid-sizing rule — per-cell state around file-sized;
    this corpus's ~6.7k band rows over 64 cells paid more in
    per-directory commits than in data."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = scratch_dir("d20_band_ingest_incremental")
    band_path, out = f"{tmp}/bands", f"{tmp}/out"
    dedup.write_band_checkpoint(
        d.where(F.col("doc_id") % 3 == 0), band_path, "doc_id", "text",
        n_sig_buckets=4,
    )
    for b, m in ((0, 1), (1, 2)):
        dedup.ingest_batch_idempotent(
            d.where(F.col("doc_id") % 3 == m), b, band_path, out
        )
    # explicit schema, d19's rule: an all-duplicate batch publishes no
    # data files (proven by the bucketed-probe test), so inference over
    # a fully-deduped run would throw instead of returning empty
    return spark.read.schema(
        "doc_id bigint, text string, ingest_batch int"
    ).parquet(out).select("doc_id", "ingest_batch")


@query(
    "d22_compacted_ingest",
    # d20's _ADMISSION_CTES in the admissions columns — compaction is a
    # maintenance op and must be INVISIBLE to what the loop admits; any
    # admission drift under the mid-sequence compactions hash-fails.
    # max_files_per_bucket is the oracle's PREDICTION (1) against the
    # Spark side's measured post-compaction layout (p20's
    # prediction==actual pattern, here for a storage invariant).
    oracle=f"""
    WITH {_ADMISSION_CTES}
    SELECT doc_id, CAST(0 AS INT) AS ingest_batch,
           CAST(1 AS BIGINT) AS max_files_per_bucket
    FROM adm0
    UNION ALL
    SELECT doc_id, CAST(1 AS INT) AS ingest_batch,
           CAST(1 AS BIGINT) AS max_files_per_bucket
    FROM documents
    WHERE CAST(doc_id % 3 AS INT) = 2
      AND doc_id NOT IN (SELECT doc_id FROM dup1)
    """,
)
def d22_compacted_ingest(spark, sf_dir):
    """The d20 ingest loop with state COMPACTION running mid-sequence
    (r10) — the driver-attested form of the maintenance contract: seed →
    batch 0 → ``compact_band_checkpoint`` → batch 1 → compact again,
    then read back the admissions. Two facts enter the hash: (1) the
    admitted (doc_id, ingest_batch) set is byte-identical to d20's
    uncompacted oracle — compaction preserves the band rows, and its
    manifest carries the grid, the parameters and the high-water mark
    forward, so the loop cannot tell it ran (the invisibility contract,
    here under the driver gate rather than a local test); (2)
    ``max_files_per_bucket`` — the measured post-compaction layout,
    exactly 1 file per touched (band, sigb) cell among the files the
    newest manifest names — against the oracle's literal 1, p20's
    prediction==actual pattern applied to a storage invariant. A
    compaction that silently dropped/duplicated state rows flips the
    admissions; one that failed to rewrite buckets flips the file
    column. Same scratch-dir and construction-time-work precedent as
    d19/d20."""
    from collections import Counter

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = scratch_dir("d22_compacted_ingest")
    band_path, out = f"{tmp}/bands", f"{tmp}/out"
    dedup.write_band_checkpoint(
        d.where(F.col("doc_id") % 3 == 0), band_path, "doc_id", "text",
        n_sig_buckets=4,
    )
    for b, m in ((0, 1), (1, 2)):
        dedup.ingest_batch_idempotent(
            d.where(F.col("doc_id") % 3 == m), b, band_path, out
        )
        dedup.compact_band_checkpoint(spark, band_path)
    # a file's cell is its band=…/sigb=… directory pair
    cells = Counter(
        tuple(f.split("/")[-3:-1])
        for f in _latest_manifest(band_path)["files"]
    )
    max_files = max(cells.values(), default=0)
    return (
        spark.read.schema("doc_id bigint, text string, ingest_batch int")
        .parquet(out)
        .select(
            "doc_id",
            "ingest_batch",
            F.lit(int(max_files)).cast("bigint").alias(
                "max_files_per_bucket"
            ),
        )
    )


@query(
    "o10_token_budget_plan",
    # o06's DOUBLE-cast discipline: every numeric literal is ::DOUBLE
    # (bare decimals type as DECIMAL in DuckDB and compute a DIFFERENT
    # product than Spark's double arithmetic); the rate rides the compat
    # 6dp floor grid so the floor(rate*toks) boundary agrees bit-for-bit
    oracle="""
    WITH toks AS (
      SELECT lang,
             CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                  AS BIGINT) AS toks
      FROM documents GROUP BY lang
    ),
    t2 AS (
      SELECT lang, toks,
             CASE lang WHEN 'en' THEN 0.4::DOUBLE WHEN 'zh' THEN 0.3::DOUBLE
                       WHEN 'de' THEN 0.2::DOUBLE WHEN 'fr' THEN 0.1::DOUBLE
                       ELSE 0.0::DOUBLE END AS share,
             0.5::DOUBLE * CAST(SUM(toks) OVER () AS DOUBLE) AS b
      FROM toks
    ),
    r AS (
      SELECT lang, toks, share, b,
             floor(least(1.0::DOUBLE, b * share / CAST(toks AS DOUBLE))
                   * 1000000 + 0.5) / 1000000 AS rate
      FROM t2
    )
    SELECT lang, toks, rate,
           CAST(floor(rate * CAST(toks AS DOUBLE)) AS BIGINT)
             AS achieved_tokens,
           CAST(floor(b * share) AS BIGINT)
             - CAST(floor(rate * CAST(toks AS DOUBLE)) AS BIGINT)
             AS deficit_tokens
    FROM r
    """,
)
def o10_token_budget_plan(spark, sf_dir):
    """Mixture PLANNING — the step before o06's mixing executes: given
    per-source token totals, target shares, and a token budget (here
    50% of the corpus), emit each source's keep-rate, the tokens that
    rate achieves, and the shortfall against its target allocation —
    the planner's report that says "zh cannot fill its 30% share at
    this budget" BEFORE a multi-day sampling job runs. One grouped
    aggregate; the corpus total comes from an UNPARTITIONED window over
    the ≤|langs|-row post-agg frame (t16's precedent — crossJoin
    branches recompute their subtree, a window over a provably-tiny
    aggregate does not). Rates ride the compat 6dp grid so the
    floor(rate·toks) token accounting agrees across engines; a capped
    rate (≥1) reports the deficit the budget cannot buy."""
    from pyspark.sql.window import Window

    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        token_count,
    )

    d = table(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(F.sum(token_count(F.col("text"))).alias("toks"))
    share = (
        F.when(F.col("lang") == "en", F.lit(0.4))
        .when(F.col("lang") == "zh", F.lit(0.3))
        .when(F.col("lang") == "de", F.lit(0.2))
        .when(F.col("lang") == "fr", F.lit(0.1))
        .otherwise(F.lit(0.0))
    )
    b = F.lit(0.5) * F.sum("toks").over(Window.partitionBy()).cast("double")
    rate = pround(
        F.least(F.lit(1.0), b * share / F.col("toks").cast("double")), 6
    )
    achieved = F.floor(rate * F.col("toks").cast("double")).cast("bigint")
    want = F.floor(b * share).cast("bigint")
    return per.select(
        "lang",
        "toks",
        rate.alias("rate"),
        achieved.alias("achieved_tokens"),
        (want - achieved).alias("deficit_tokens"),
    )


@query(
    "o11_budgeted_mixture",
    # o10's DOUBLE-cast + 6dp-grid discipline for the shared plan
    # columns; the execution side is pure integer arithmetic (token
    # cumsums and mins over bigints), so the booleans are exact in both
    # engines. The oracle's cumsum is ONE window per lang — DuckDB
    # doesn't need the distributed two-phase form the Spark side uses.
    oracle="""
    WITH t AS (
      SELECT lang, doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS tok,
             substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
      FROM documents
    ),
    per AS (
      SELECT lang, CAST(SUM(tok) AS BIGINT) AS toks FROM t GROUP BY lang
    ),
    plan AS (
      SELECT lang, toks,
             CAST(floor(b * share) AS BIGINT) AS alloc_tokens,
             CAST(floor(
               floor(least(1.0::DOUBLE, b * share / CAST(toks AS DOUBLE))
                     * 1000000 + 0.5) / 1000000
               * CAST(toks AS DOUBLE)) AS BIGINT) AS plan_rate_tokens
      FROM (
        SELECT lang, toks,
               CASE lang WHEN 'en' THEN 0.4::DOUBLE
                         WHEN 'zh' THEN 0.3::DOUBLE
                         WHEN 'de' THEN 0.2::DOUBLE
                         WHEN 'fr' THEN 0.1::DOUBLE
                         ELSE 0.0::DOUBLE END AS share,
               0.5::DOUBLE * CAST(SUM(toks) OVER () AS DOUBLE) AS b
        FROM per
      )
    ),
    cum AS (
      SELECT t.lang, t.tok,
             SUM(t.tok) OVER (PARTITION BY t.lang ORDER BY t.h, t.doc_id
                              ROWS UNBOUNDED PRECEDING) AS c,
             p.toks, p.alloc_tokens, p.plan_rate_tokens
      FROM t JOIN plan p USING (lang)
    )
    SELECT lang, toks, alloc_tokens, plan_rate_tokens,
           CAST(SUM(CASE WHEN c <= alloc_tokens THEN 1 ELSE 0 END)
                AS BIGINT) AS sampled_docs,
           CAST(COALESCE(SUM(CASE WHEN c <= alloc_tokens THEN tok END), 0)
                AS BIGINT) AS sampled_tokens,
           CAST(MIN(CASE WHEN c > alloc_tokens THEN c END)
                - COALESCE(MAX(CASE WHEN c <= alloc_tokens THEN c END), 0)
                AS BIGINT) AS next_doc_tokens,
           COALESCE(SUM(CASE WHEN c <= alloc_tokens THEN tok END), 0)
             <= alloc_tokens AS within_budget,
           COALESCE(SUM(CASE WHEN c <= alloc_tokens THEN tok END), 0)
             = COALESCE(MAX(CASE WHEN c <= alloc_tokens THEN c END), 0)
             AS prefix_identity
    FROM cum
    GROUP BY lang, toks, alloc_tokens, plan_rate_tokens
    """,
)
def o11_budgeted_mixture(spark, sf_dir):
    """Budgeted mixture EXECUTION — the step that closes o10's loop
    (VERDICT r9 #3): actually build the per-source token allocation the
    planner promised, deterministically, and attest in-row that the
    execution hit its budget. Per source, the allocation is
    ``floor(budget · share)`` tokens (o10's ``want``); the execution
    keeps documents in deterministic md5-hash order (the reproducible
    "random" order every gate in this module uses, salt ``mix|``) while
    the running token total stays within the allocation — a greedy
    hash-ordered prefix, the token-exact form of budgeted sampling.

    Honesty note vs the VERDICT's sketch: o10's ``achieved_tokens``
    (``floor(rate·toks)``) is an ARITHMETIC ESTIMATE of what a rate
    gate would yield — a hash gate keeps ~rate of *documents*, so its
    token yield only coincidentally equals the floor arithmetic, and an
    exact-equality attestation between the two would be a false
    invariant. The execution here is budget-exact instead, and the
    attestable facts ride the row: ``within_budget`` (the prefix never
    exceeds the allocation — the plan's hard constraint holds in the
    output), ``prefix_identity`` (sum-of-kept-tokens == last kept
    cumsum, the p20-style two-path equality pinning the window and the
    aggregate to each other), and ``next_doc_tokens`` (what the first
    unaffordable document would have cost — NULL means the source was
    exhausted below budget, o10's deficit case). ``plan_rate_tokens``
    carries o10's estimate alongside ``sampled_tokens`` so the report
    quantifies exactly how far the rate arithmetic over/under-buys.

    Scale shape: the naive per-source cumsum window moves EACH SOURCE to
    one partition — the classic 100 TB window bottleneck. This plan uses
    the distributed two-phase prefix sum instead: documents bucket by
    their hash's leading 2 hex digits (256 range-ordered buckets whose
    lexicographic order equals the global hash order), per-(lang,bucket)
    token subtotals form a ≤|langs|·256-row frame whose running offsets
    are windowed driver-cheap and broadcast back, and the wide window
    runs per (lang, bucket) — 256-way parallel per source. One shuffle
    for the subtotal agg, one for the per-bucket window, one broadcast;
    no corpus-sized single partition anywhere."""
    from pyspark.sql.window import Window

    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.text import (
        token_count,
    )

    d = table(spark, sf_dir, "documents")
    # text-free per-doc frame (lang, id, tok, 8-hex hash, bucket) feeds
    # THREE consumers (subtotals, the cumsum join, and — via subtotals —
    # the plan frame); cached per d18's barrier rule so the corpus text
    # is scanned and tokenized ONCE, not re-expanded per consumer.
    # Registered with the plan-cache registry (VERDICT r10 #5b): callers
    # release via registry.release_plan_caches().
    t = tracked_cache(
        d.select(
            "lang",
            "doc_id",
            token_count(F.col("text")).alias("tok"),
            F.substring(
                F.md5(
                    F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))
                ),
                1,
                8,
            ).alias("h"),
        ).withColumn("bk", F.substring(F.col("h"), 1, 2))
    )
    sub = t.groupBy("lang", "bk").agg(F.sum("tok").alias("btok"))
    # per-source totals re-aggregate the ≤|langs|·256-row subtotal frame
    # — never a second corpus pass
    per = sub.groupBy("lang").agg(F.sum("btok").alias("toks"))
    share = (
        F.when(F.col("lang") == "en", F.lit(0.4))
        .when(F.col("lang") == "zh", F.lit(0.3))
        .when(F.col("lang") == "de", F.lit(0.2))
        .when(F.col("lang") == "fr", F.lit(0.1))
        .otherwise(F.lit(0.0))
    )
    b = F.lit(0.5) * F.sum("toks").over(Window.partitionBy()).cast("double")
    rate = pround(
        F.least(F.lit(1.0), b * share / F.col("toks").cast("double")), 6
    )
    plan = per.select(
        "lang",
        "toks",
        F.floor(b * share).cast("bigint").alias("alloc_tokens"),
        F.floor(rate * F.col("toks").cast("double"))
        .cast("bigint")
        .alias("plan_rate_tokens"),
    )
    # distributed prefix sum: per-(lang, bucket) subtotals → running
    # offset over the tiny subtotal frame → broadcast back → local
    # cumsum per (lang, bucket). Bucket order == hash order because the
    # bucket IS the hash's leading hex digits.
    w_off = (
        Window.partitionBy("lang")
        .orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = sub.select(
        "lang",
        "bk",
        F.coalesce(F.sum("btok").over(w_off), F.lit(0)).alias("off"),
    )
    w_loc = (
        Window.partitionBy("lang", "bk")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        t.join(F.broadcast(off), ["lang", "bk"])
        .withColumn("c", F.col("off") + F.sum("tok").over(w_loc))
        .join(F.broadcast(plan), "lang")
    )
    kept = F.col("c") <= F.col("alloc_tokens")
    return (
        cum.groupBy("lang", "toks", "alloc_tokens", "plan_rate_tokens")
        .agg(
            F.sum(kept.cast("long")).cast("bigint").alias("sampled_docs"),
            F.coalesce(F.sum(F.when(kept, F.col("tok"))), F.lit(0))
            .cast("bigint")
            .alias("sampled_tokens"),
            (
                F.min(F.when(~kept, F.col("c")))
                - F.coalesce(F.max(F.when(kept, F.col("c"))), F.lit(0))
            )
            .cast("bigint")
            .alias("next_doc_tokens"),
            (
                F.coalesce(F.sum(F.when(kept, F.col("tok"))), F.lit(0))
                <= F.col("alloc_tokens")
            ).alias("within_budget"),
            (
                F.coalesce(F.sum(F.when(kept, F.col("tok"))), F.lit(0))
                == F.coalesce(F.max(F.when(kept, F.col("c"))), F.lit(0))
            ).alias("prefix_identity"),
        )
    )


@query(
    "d21_curation_funnel",
    # d18's GRAMS_CTES and _CURATION_SCORES, re-aggregated as stage
    # flags: the funnel's numbers are BY CONSTRUCTION the stage
    # cardinalities of the curation chain, so the report cannot drift
    # from the pipeline it reports on. MIN(CASE WHEN gate ...) over an all-false fp group is
    # NULL and NULL-compares false — identical in both engines.
    oracle=f"""
    WITH {GRAMS_CTES},
    feats AS (
      SELECT doc_id, md5({_NORM}) AS fp,
             {_CURATION_SCORES}
      FROM grams
    ),
    flags AS (
      SELECT doc_id, fp,
             (n_toks >= 30 AND q >= 0.35 AND rep <= 0.05) AS gate,
             greatest(q, 0.0) AS weight
      FROM feats
    ),
    keep AS (
      SELECT *,
             gate AND doc_id = MIN(CASE WHEN gate THEN doc_id END)
               OVER (PARTITION BY fp) AS keeper
      FROM flags
    ),
    samp AS (
      SELECT *,
             keeper AND substr(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 4)
               < CASE WHEN weight >= 1.0 THEN 'g'
                      ELSE printf('%04x', least(
                        CAST(floor(weight * 65536.0) AS INT), 65535)) END
               AS sampled
      FROM keep
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN gate THEN 1 ELSE 0 END) AS BIGINT) AS n_gated,
           CAST(SUM(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           {sql_round("SUM(CASE WHEN gate THEN 1 ELSE 0 END) * 1.0 / COUNT(*)", 4)}
             AS gate_rate,
           {sql_round("SUM(CASE WHEN sampled THEN 1 ELSE 0 END) * 1.0 / COUNT(*)", 4)}
             AS yield_rate
    FROM samp
    """,
)
def d21_curation_funnel(spark, sf_dir):
    """The curation FUNNEL report — per-stage survivor accounting for
    the d18 chain (total → quality-gated → exact-unique → sampled) in
    ONE pass: the numbers you check before shipping a curated snapshot
    ("the gate drops 54%, dedup another 3%, the weighted sample yields
    31% — is that the corpus we meant to build?"). Same fragments as
    d18 so the report cannot drift from the pipeline: every doc gets
    stage FLAGS (gate row-local; keeper = min-doc-per-fingerprint among
    gate-passers via one fp-keyed window over the cached score frame;
    sampled = the same deterministic md5 weight gate), then one global
    conditional aggregate. Shape: the codegen agg repetition scorer
    (always — a corpus-wide report is exactly the regime where the
    interpreted row-local scorer loses), one fp shuffle (fingerprint
    groups are duplicate-cluster-sized, bounded), one single-row
    aggregate. The cached frame is (id, fp, 3 scalars), text-free —
    d18's barrier rule: flags reference the scores several times and an
    uncached frame would re-inline the scoring per reference."""
    from pyspark.sql.window import Window

    from pyspark_bigdata_sars_cov_2_analysis_spark.functions.compat import (
        pround as _pr,
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        _hash_prefix,
        rate_threshold_hex,
    )

    d = table(spark, sf_dir, "documents")
    scored = _curation_scored(d, "agg")
    gate = _curation_gate()
    weight = F.greatest(F.col("q"), F.lit(0.0))
    w = Window.partitionBy("fp")
    keeper = gate & (
        F.col("doc_id")
        == F.min(F.when(gate, F.col("doc_id"))).over(w)
    )
    sampled = keeper & (
        _hash_prefix(F.col("doc_id"), _CURATION_SALT)
        < rate_threshold_hex(weight)
    )
    flagged = scored.select(
        gate.alias("gate"), keeper.alias("keeper"), sampled.alias("sampled")
    )
    n = F.count(F.lit(1))
    n_gate = F.sum(F.col("gate").cast("long"))
    n_samp = F.sum(F.col("sampled").cast("long"))
    return flagged.agg(
        n.alias("n_total"),
        n_gate.alias("n_gated"),
        F.sum(F.col("keeper").cast("long")).alias("n_unique"),
        n_samp.alias("n_sampled"),
        _pr(n_gate * 1.0 / n, 4).alias("gate_rate"),
        _pr(n_samp * 1.0 / n, 4).alias("yield_rate"),
    )
