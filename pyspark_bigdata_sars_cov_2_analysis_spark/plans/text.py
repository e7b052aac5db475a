"""Text-analysis plans over the ``documents`` table (LLM-data surface).

Every query here is pure JVM expression work (functions/text.py) with a
line-by-line DuckDB oracle — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.functions import text as T
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.fragments import (
    DUCK_NORM,
    GRAMS_CTES,
    LANG_ARGMAX_CASE,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
    tracked_cache,
    pround,
    query,
    sql_round,
    table,
)


# the text normalization every text/dedup oracle shares
_DUCK_NORM = DUCK_NORM


def _occ_sql(word: str) -> str:
    # \Q...\E quoting in lockstep with functions/text.word_occurrences
    # (RE2 supports it just like Java regex — review r9)
    return f"len(regexp_extract_all(text, '\\b\\Q{word}\\E\\b'))"


def _score_sql(words: list[str]) -> str:
    return " + ".join(_occ_sql(w) for w in words)


@query(
    "t01_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}')) AS BIGINT) AS n_bpeish
    FROM documents
    """,
)
def t01_token_count(spark, sf_dir):
    """Whitespace + BPE-ish token counting (LLM-data op; also F4,
    ref: spark/jobs/research_challenge_analysis.py:100)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpeish"),
    )


_NTOK = r"len(regexp_split_to_array(trim(text), '\s+'))"
_QUALITY_EXPR = (
    f"least({_NTOK} / 100.0, 1.0) * "
    f"(1.0 - ({_score_sql(T.STOPWORDS)}) / {_NTOK})"
)


@query(
    "t02_quality_score",
    oracle=f"""
    SELECT doc_id, {sql_round(_QUALITY_EXPR, 4)} AS quality
    FROM documents
    """,
)
def t02_quality_score(spark, sf_dir):
    """Deterministic quality heuristic (length term × stopword penalty)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", pround(T.quality_score(F.col("text")), 4).alias("quality")
    )


@query(
    "t03_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {_score_sql(T.LANG_MARKERS['de'])} AS s_de,
             {_score_sql(T.LANG_MARKERS['en'])} AS s_en,
             {_score_sql(T.LANG_MARKERS['es'])} AS s_es,
             {_score_sql(T.LANG_MARKERS['fr'])} AS s_fr,
             {_score_sql(T.LANG_MARKERS['zh'])} AS s_zh
      FROM documents)
    SELECT doc_id,
{LANG_ARGMAX_CASE} AS lang_pred
    FROM scored
    """,
)
def t03_language_id(spark, sf_dir):
    """Lexicon/n-gram language-ID heuristic; argmax with alphabetical
    tiebreak (LLM-data op)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", T.detect_language(F.col("text")).alias("lang_pred"))


@query(
    "t04_fingerprint",
    oracle="""
    SELECT doc_id,
           substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16)
             AS fp
    FROM documents
    """,
)
def t04_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over normalized text (LLM-data op)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


@query(
    "t05_clean_wordcount",
    oracle="""
    SELECT doc_id,
           regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS cleaned,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS words
    FROM documents
    WHERE n_chars > 100
    """,
)
def t05_clean_wordcount(spark, sf_dir):
    """The reference's abstract-clean + word-count transform, natively
    (ref: spark/jobs/research_challenge_analysis.py:99-104,117-124)."""
    d = table(spark, sf_dir, "documents").where(F.col("n_chars") > 100)
    return d.select(
        "doc_id",
        T.normalize_text(F.col("text")).alias("cleaned"),
        T.token_count(F.col("text")).alias("words"),
    )


@query(
    "t07_repetition_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_DUCK_NORM}, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN [array_to_string(w[i:i+2], ' ')
                        for i in generate_series(1, len(w) - 2)]
                  ELSE [] END AS g
      FROM toks
    )
    SELECT doc_id,
           {sql_round('''CASE WHEN len(g) > 0
                 THEN (len(g) - len(list_distinct(g))) / CAST(len(g) AS DOUBLE)
                 ELSE 0.0 END''', 4)} AS rep_ratio
    FROM grams
    """,
)
def t07_repetition_ratio(spark, sf_dir):
    """Gopher-style duplicated-3-gram fraction per document — the standard
    repetition quality gate for training corpora. Row-local array math,
    zero shuffle."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", pround(T.repetition_ratio(F.col("text"), 3), 4).alias("rep_ratio")
    )


# deterministic synthetic PII appended per doc so the scrubber has real
# matches to find on any corpus (the base synthetic text contains none)
_PII_SUFFIX_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com "
    "at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 or 555-010-' || "
    "CAST(1000 + doc_id % 9000 AS VARCHAR)"
)


@query(
    "t08_pii_scrub",
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id, {_PII_SUFFIX_SQL} AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{T.PII_PATTERNS["email"]}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '{T.PII_PATTERNS["ipv4"]}')) AS BIGINT)
             AS n_ips,
           CAST(len(regexp_extract_all(t, '{T.PII_PATTERNS["phone"]}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
                 '{T.PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
                 '{T.PII_PATTERNS["ipv4"]}', '<IPV4>', 'g'),
                 '{T.PII_PATTERNS["phone"]}', '<PHONE>', 'g')) AS scrubbed_fp
    FROM enriched
    """,
)
def t08_pii_scrub(spark, sf_dir):
    """PII masking pass (emails / IPv4 / phone) with per-kind counts and a
    fingerprint of the scrubbed text. Deterministic synthetic PII is
    appended per doc_id so the patterns have real matches to find;
    patterns are dialect-portable (Java regex == RE2 here). The masking
    itself is pure regexp_replace — whole-stage codegen, no Python."""
    d = table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or 555-010-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    return d.select(
        "doc_id",
        T.pii_count(t, "email").alias("n_emails"),
        T.pii_count(t, "ipv4").alias("n_ips"),
        T.pii_count(t, "phone").alias("n_phones"),
        F.md5(T.scrub_pii(t)).alias("scrubbed_fp"),
    )


@query(
    "t06_top_bigrams",
    oracle="""
    WITH toks AS (
      SELECT string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ),
    bg AS (
      SELECT unnest([w[i] || ' ' || w[i+1]
                     for i in generate_series(1, len(w) - 1)]) AS bigram
      FROM toks WHERE len(w) >= 2
    )
    SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
)
def t06_top_bigrams(spark, sf_dir):
    """Corpus-level top-20 bigram frequencies — vocabulary profiling for
    the text surface. Non-distinct 2-shingles (frequency counts, unlike
    the dedup shingles), map-side partial counts, TakeOrderedAndProject
    top-k with a lexicographic tiebreak."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.dedup import shingle_array
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.sorts import top_k

    d = table(spark, sf_dir, "documents")
    bg = d.select(F.explode(shingle_array(F.col("text"), 2)).alias("bigram"))
    counts = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return top_k(counts, 20, F.desc("n"), F.asc("bigram"))


@query(
    "t09_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT tok, COUNT(*) AS dfq FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             {sql_round("tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.dfq)", 4)} AS tfidf
      FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def t09_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms — global corpus statistics without
    re-reading the corpus.

    Scale shape: after tokenize, everything moves (doc_id, tok, count)
    triples, never text. Document frequency is a hash AGGREGATE over the
    cached tf frame, broadcast-joined back — NOT a window partitioned by
    tok (r4 shape): a window puts every row for a hot token (stopwords)
    into ONE task and AQE cannot split window partitions, so at 100× a
    stopword's partition approaches one row per document. groupBy(tok)
    has map-side partial aggregation — the shuffle carries at most one
    row per token per map partition regardless of skew. tf is cached
    (MEMORY_AND_DISK) because the dfreq branch otherwise re-plans the
    whole tokenize+agg subtree: column pruning makes the two exchanges
    canonically different, so neither plan-time ReuseExchange nor AQE
    stage reuse deduplicates them (measured: 2 full tokenize subtrees,
    0 ReusedExchange). The cached frame is (doc_id, tok, tf) triples —
    strictly smaller than the raw text it derives from, and spillable.
    The 1-row corpus size broadcasts via crossJoin (the scalar-subquery
    execution shape), and the final top-3 is a bounded window per
    doc_id. Ranking orders by the ROUNDED score (then tok) so fp noise
    in ln() can't flip ranks between engines."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(T.normalize_text(F.col("text")), " ")).alias("tok"),
    )
    tf = tracked_cache(
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("dfq"))
    n = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    # join back UNHINTED: AQE broadcasts dfreq when the vocabulary is
    # small (it is, at every test SF) and falls back to a sort-merge join
    # with skew-split when a web-scale vocab outgrows the broadcast
    # threshold — a forced broadcast() would OOM there instead.
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            pround(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("dfq")),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf")
    )


@query(
    "t13_token_surprisal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split({_DUCK_NORM}, ' ')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    freq AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS t_total FROM freq)
    SELECT doc_id,
           {sql_round(
               "SUM(tf * ln(CAST(t_total AS DOUBLE) / cnt)) / SUM(tf)", 4
           )} AS surprisal
    FROM tf JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def t13_token_surprisal(spark, sf_dir):
    """Per-document mean token surprisal — the unigram stand-in for the
    CCNet/Wenzek-style LM-perplexity quality filter (low surprisal =
    repetitive/boilerplate-heavy, high = rare-token noise; the filter
    keeps the middle band). Score = Σ tf·ln(T/cnt) / Σ tf over the
    document's token occurrences, from the corpus's own unigram counts.

    Scale shape: t09's exact skeleton — after tokenize everything moves
    (doc_id, tok, tf) triples; the corpus unigram table is a hash
    AGGREGATE over the cached tf frame joined back UNHINTED (AQE
    broadcasts the vocabulary while it fits, degrades to shuffle with
    skew-split beyond), the 1-row total broadcasts via crossJoin, and
    the per-doc score is one more hash aggregate. No window anywhere —
    hot tokens compress map-side in both aggregates."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(T.normalize_text(F.col("text")), " ")).alias("tok"),
    )
    tf = (
        tracked_cache(
            toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
        )
    )
    freq = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("t_total"))
    return (
        tf.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            pround(
                F.sum(
                    F.col("tf")
                    * F.log(F.col("t_total").cast("double") / F.col("cnt"))
                )
                / F.sum("tf"),
                4,
            ).alias("surprisal")
        )
    )


@query(
    "t11_chunk_text",
    # chunk indices come from a per-row range() bounded by the document's
    # own token count (unnest of a scalar-range list — DuckDB 1.0 rejects
    # lateral column params to generate_series), so the oracle is exact
    # for any document length instead of silently capping at 100001
    # chunks; the trimmed-length filter mirrors chunk_array's
    # empty/whitespace-only-doc guard (trim AFTER collapse, review r15)
    # (empty/whitespace/NULL text emits no chunks).
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_DUCK_NORM}, ' ') AS w
      FROM documents WHERE length(trim({_DUCK_NORM})) > 0
    ),
    idx AS (
      SELECT doc_id, w, unnest(range(0, ((len(w) - 1) // 30) + 1)) AS c
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, CAST(c AS BIGINT) AS chunk_idx,
             array_to_string(w[c*30 + 1 : c*30 + 40], ' ') AS chunk
      FROM idx
    )
    SELECT doc_id, chunk_idx, chunk,
           CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_chunk_tokens
    FROM chunks
    """,
)
def t11_chunk_text(spark, sf_dir):
    """Overlapping context-window chunking (window=40 tokens, stride=30 —
    10-token overlap): the RAG-prep fan-out. Chunks are built row-locally
    as a JVM expression array (functions/text.chunk_array) and exploded
    only at the end — no Python in the path; the UDTF formulation exists
    as an extensibility twin (udf/udtfs.py), equivalence-tested but kept
    off the hot path because UDTF eval is row-at-a-time."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.explode(T.chunk_array(F.col("text"), 40, 30)).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk").alias("chunk"),
            F.size(F.split(F.col("c.chunk"), " ")).cast("bigint").alias(
                "n_chunk_tokens"
            ),
        )
    )


_REP_EXPR = """CASE WHEN len(g) > 0
  THEN (len(g) - len(list_distinct(g))) / CAST(len(g) AS DOUBLE)
  ELSE 0.0 END"""

# t12's three gate scores per document: toks → grams → feats
_GATE_FEATS_CTES = f"""{GRAMS_CTES},
    feats AS (
      SELECT doc_id,
             {_NTOK} AS n_toks,
             {sql_round(_QUALITY_EXPR, 4)} AS q,
             {sql_round(_REP_EXPR, 4)} AS rep
      FROM grams
    )"""


@query(
    "t12_quality_gate",
    oracle=f"""
    WITH {_GATE_FEATS_CTES}
    SELECT doc_id,
           (n_toks >= 30 AND q >= 0.35 AND rep <= 0.05) AS keep,
           concat_ws(',',
             CASE WHEN n_toks < 30 THEN 'too_short' END,
             CASE WHEN q < 0.35 THEN 'low_quality' END,
             CASE WHEN rep > 0.05 THEN 'repetitious' END) AS reasons
    FROM feats
    """,
)
def t12_quality_gate(spark, sf_dir):
    """Composite Gopher/C4-style quality gate: keep/drop per document with
    audit reasons (too_short / low_quality / repetitious) — the filter
    step that consumes t01/t02/t07's signals. Pure row-local expression
    work (functions/text.quality_gate), zero shuffle; thresholds compare
    compat-rounded scores so boundary documents gate identically in both
    engines."""
    d = table(spark, sf_dir, "documents")
    g = T.quality_gate(F.col("text")).alias("g")
    return d.select("doc_id", g).select(
        "doc_id", F.col("g.keep").alias("keep"), F.col("g.reasons").alias("reasons")
    )


@query(
    "a22_countmin_heavy_hitters",
    # the whole sketch is replicated in SQL from the same md5-bucket
    # formula, so the ESTIMATES enter the hash — not just bound booleans;
    # SUM cells are HUGEINT in DuckDB → cast (the u08/o06 hash class)
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split({_DUCK_NORM}, ' ')) AS tok FROM documents
    ),
    tc AS (SELECT tok, COUNT(*) AS n_exact FROM toks GROUP BY tok),
    seeds AS (SELECT * FROM (VALUES ('0'), ('1'), ('2'), ('3')) s(cms_row)),
    cms AS (
      SELECT cms_row,
             substr(md5(cms_row || '|' || tok), 1, 2) AS bucket,
             SUM(n_exact) AS cell
      FROM tc CROSS JOIN seeds GROUP BY 1, 2
    ),
    top AS (SELECT tok, n_exact FROM tc ORDER BY n_exact DESC, tok LIMIT 20),
    est AS (
      SELECT t.tok, MIN(c.cell) AS est
      FROM top t CROSS JOIN seeds s
      JOIN cms c ON c.cms_row = s.cms_row
                AND c.bucket = substr(md5(s.cms_row || '|' || t.tok), 1, 2)
      GROUP BY t.tok
    )
    SELECT t.tok, CAST(t.n_exact AS BIGINT) AS n_exact,
           CAST(e.est AS BIGINT) AS est
    FROM top t JOIN est e ON t.tok = e.tok
    """,
)
def a22_countmin_heavy_hitters(spark, sf_dir):
    """Sketch-family completion — FREQUENCY estimation, the third
    mergeable-sketch axis after cardinality (a15/a17/a18) and quantiles
    (a19/a20): a deterministic md5-bucketed Count-Min sketch
    (``llmdata/sketches.py``) probed for the corpus's 20 most frequent
    tokens. Unlike the native HLL/KLL sketches (randomized → only bound
    booleans hashable), this sketch is the same bit-for-bit in any
    engine with md5, so the driver hash covers the estimates themselves.
    Scale shape: ONE map-side-combined shuffle over the token stream
    (exact per-token counts); the depth×4 expansion runs on the
    vocabulary-sized aggregate, the sketch is ≤ 4×256 rows (broadcast on
    the probe side), and sketches merge by cell-wise sum
    (property-tested) — per-day frequency sketches at 100 TB combine
    without rescanning tokens."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import sketches

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(T.normalize_text(F.col("text")), " ")).alias("tok")
    )
    # cached for the same reason as t09's tf frame: the sketch, the
    # top-20, and the probe-estimate branches would otherwise each
    # re-plan the full tokenize+count subtree (3 corpus scans at 100 TB
    # — ReuseExchange does not deduplicate them across the differing
    # projections); the cached frame is vocabulary-sized and spillable
    tc = tracked_cache(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_exact"))
    )
    cms = sketches.countmin_table(tc, "tok", "n_exact")
    top = tc.orderBy(F.desc("n_exact"), F.asc("tok")).limit(20)
    est = sketches.countmin_estimate(cms, top.select("tok"), "tok")
    return top.join(
        est.withColumnRenamed("item", "tok"), "tok"
    ).select("tok", "n_exact", F.col("est").cast("bigint").alias("est"))


@query(
    "t14_langid_margin",
    # margin = max score − second-max score, computed from the sorted
    # score list so ties give margin 0 without caring which argmax wins
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             [{_score_sql(T.LANG_MARKERS['de'])},
              {_score_sql(T.LANG_MARKERS['en'])},
              {_score_sql(T.LANG_MARKERS['es'])},
              {_score_sql(T.LANG_MARKERS['fr'])},
              {_score_sql(T.LANG_MARKERS['zh'])}] AS ss
      FROM documents)
    SELECT doc_id,
           CAST(list_sort(ss)[5] - list_sort(ss)[4] AS BIGINT) AS margin,
           list_sort(ss)[5] - list_sort(ss)[4] >= 2 AS is_confident
    FROM scored
    """,
)
def t14_langid_margin(spark, sf_dir):
    """Text-quality completion — language-ID CONFIDENCE: the margin
    between the best and second-best marker scores behind t03's argmax.
    A margin of 0 means the prediction was a coin flip on tied scores;
    real pipelines gate on this (route low-margin docs to a heavier
    model or drop them) rather than trusting every argmax equally —
    t12's quality gate pattern applied to t03's signal. Row-local
    integer arithmetic over the same marker counts t03 computes; zero
    shuffle."""
    d = table(spark, sf_dir, "documents")
    scores = T.lang_scores(F.col("text"))
    ss = F.sort_array(F.array(*[scores[k] for k in sorted(scores)]))
    margin = (ss[4] - ss[3]).cast("bigint")
    return d.select(
        "doc_id",
        margin.alias("margin"),
        (margin >= 2).alias("is_confident"),
    )


@query(
    "t15_sentence_stats",
    # synthetic docs carry no terminal punctuation, so sentence structure
    # is PLANTED deterministically: a period after every 7th word (doc_id
    # phase-shifted) — both engines then split on the same boundaries.
    # DuckDB lambda indexes are 1-based where Spark's are 0-based, hence
    # the i - 1
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             array_to_string(
               list_transform(
                 string_split({_DUCK_NORM}, ' '),
                 (w, i) -> CASE WHEN (i - 1 + doc_id) % 7 = 0
                                THEN w || '.' ELSE w END),
               ' ') AS t
      FROM documents),
    sents AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(t, '\\.'),
                             s -> trim(s) <> '')) AS n_sentences,
             len(string_split({_DUCK_NORM}, ' ')) AS n_words
      FROM planted JOIN documents USING (doc_id))
    SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
           {sql_round("n_words * 1.0 / NULLIF(n_sentences, 0)", 2)} AS words_per_sentence
    FROM sents
    """,
)
def t15_sentence_stats(spark, sf_dir):
    """Text-quality completion — sentence-level statistics (count and
    mean words per sentence), the readability axis t01/t02's token
    ratios don't see: wall-of-text documents (huge sentences) and
    staccato spam (tiny ones) both flag here. The synthetic corpus has
    no punctuation, so sentence boundaries are PLANTED deterministically
    (a period after every 7th word, phase-shifted by doc_id) — the
    extraction then has real structure to find, t08's pattern. Pure
    row-local split/filter arithmetic; zero shuffle."""
    d = table(spark, sf_dir, "documents")
    words = F.split(T.normalize_text(F.col("text")), " ")
    planted = F.array_join(
        F.transform(
            words,
            lambda w, i: F.when(
                (i + F.col("doc_id")) % 7 == 0, F.concat(w, F.lit("."))
            ).otherwise(w),
        ),
        " ",
    )
    n_sent = F.size(
        F.filter(
            F.split(planted, r"\."), lambda s: F.trim(s) != F.lit("")
        )
    )
    n_words = F.size(words)
    # NULLIF guard on BOTH sides: an empty/whitespace-only document has
    # zero planted sentences, where a bare divide diverges between the
    # engines (Spark NULL or ANSI DIVIDE_BY_ZERO vs DuckDB's IEEE inf) —
    # the same empty-doc edge chunk_array() guards (ADVICE r4)
    return d.select(
        "doc_id",
        n_sent.cast("bigint").alias("n_sentences"),
        pround(
            n_words * 1.0 / F.nullif(n_sent, F.lit(0)), 2
        ).alias("words_per_sentence"),
    )


@query(
    "t16_quality_audit_frame",
    # t12's _GATE_FEATS_CTES, rolled up to the audit shape; the
    # share division is forced to DOUBLE (DuckDB SUM over BIGINT is
    # HUGEINT — the u08/o06 hash class)
    oracle=f"""
    WITH {_GATE_FEATS_CTES},
    gate AS (
      SELECT (n_toks >= 30 AND q >= 0.35 AND rep <= 0.05) AS keep,
             concat_ws(',',
               CASE WHEN n_toks < 30 THEN 'too_short' END,
               CASE WHEN q < 0.35 THEN 'low_quality' END,
               CASE WHEN rep > 0.05 THEN 'repetitious' END) AS reasons
      FROM feats
    ),
    counts AS (
      SELECT keep, reasons, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM gate GROUP BY keep, reasons
    )
    SELECT keep, reasons, n_docs,
           {sql_round(
               "CAST(n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM counts)", 4
           )} AS share
    FROM counts
    """,
)
def t16_quality_audit_frame(spark, sf_dir):
    """Corpus-level quality AUDIT over the r8-built
    :func:`functions.text.quality_gate_frame` (VERDICT r8 #2): the
    keep/drop decision rolled up per distinct ``(keep, reasons)`` combo
    with document counts and corpus share — the report a curation run
    publishes alongside its output so threshold drift is visible per
    shard. The frame gate scores repetition with the codegen
    exploded-k-gram aggregate (one plan at every SF): keep/reasons
    values flow from the same _gate_decision as t12, so a hash match
    here proves the aggregate's rounded scores gate identically to the
    row-local path.
    Shape: row-local scoring + one doc_id-keyed join (the scorer), one
    tiny grouped aggregate, then the share denominator as an
    UNPARTITIONED window over that aggregate's output — safe here and
    only here because the frame is bounded by construction at ≤ 2^3
    rows (the distinct subsets of three reasons), so the single window
    partition holds at any corpus size. The plan-audited alternative (a
    1-row agg + broadcast crossJoin) recomputes the ENTIRE scoring
    subtree for the denominator branch — Spark does not reuse exchanges
    across a crossJoin's inputs — i.e. a second full corpus scan; the
    window form scores the corpus exactly once."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    g = T.quality_gate_frame(d.select("doc_id", "text"), "doc_id", "text")
    counts = g.groupBy("keep", "reasons").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    total = F.sum("n_docs").over(Window.partitionBy())
    return counts.select(
        "keep",
        "reasons",
        "n_docs",
        pround(F.col("n_docs") / total, 4).alias("share"),
    )


# t03's prediction CASE — the shared fragment, so the confusion
# rollup can never drift from the classifier it audits (review r14)
_T17_PRED = LANG_ARGMAX_CASE


@query(
    "t17_langid_confusion",
    # t03's exact argmax fragments, rolled up against the labeled lang
    # column — counts are integers, rates ride the compat 4dp grid
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_score_sql(T.LANG_MARKERS['de'])} AS s_de,
             {_score_sql(T.LANG_MARKERS['en'])} AS s_en,
             {_score_sql(T.LANG_MARKERS['es'])} AS s_es,
             {_score_sql(T.LANG_MARKERS['fr'])} AS s_fr,
             {_score_sql(T.LANG_MARKERS['zh'])} AS s_zh
      FROM documents),
    pred AS (
      SELECT lang, {_T17_PRED} AS lang_pred FROM scored
    ),
    cm AS (
      SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    ),
    tot AS (
      SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang FROM cm GROUP BY lang
    )
    SELECT cm.lang, cm.lang_pred, cm.n, tot.n_lang,
           {sql_round("cm.n * 1.0 / tot.n_lang", 4)} AS share,
           cm.lang = cm.lang_pred AS is_correct
    FROM cm JOIN tot USING (lang)
    """,
)
def t17_langid_confusion(spark, sf_dir):
    """Language-ID QUALITY AUDIT (r10) — t03's classifier evaluated
    against the corpus's labeled ``lang`` column as a confusion matrix:
    per (true lang × predicted lang) counts and within-language shares,
    with the diagonal flagged. This is the eval you run before trusting
    the heuristic to route a 100 TB corpus into per-language pipelines
    — "zh is 98% recalled but 4% of fr is misread as en" decides
    whether the n-gram marker lists need another round. One scan, one
    tiny (≤|langs|²) aggregate, the denominator joined back from the
    post-agg frame (never a second corpus pass)."""
    d = table(spark, sf_dir, "documents")
    pred = d.select(
        "lang", T.detect_language(F.col("text")).alias("lang_pred")
    )
    cm = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cm.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_lang"))
    return cm.join(F.broadcast(tot), "lang").select(
        "lang",
        "lang_pred",
        "n",
        "n_lang",
        pround(F.col("n") * F.lit(1.0) / F.col("n_lang"), 4).alias("share"),
        (F.col("lang") == F.col("lang_pred")).alias("is_correct"),
    )
