"""DuckDB-oracle SQL fragments that more than one plan module uses.

Each piece of oracle SQL is written once: a CTE chain or expression that
two oracles share is one module-level definition, and each consumer's
``oracle=`` string is built from it. A fragment used by one plan module
lives next to its family in that module (``llmdata._SIMHASH_CTE``,
``llmdata._bands_sql``); a fragment used by several modules lives here.
A builder takes a parameter only where its copies differ by a carried
column (``llmdata._bands_sql(batch="b")``); copies that would need a
branch on the calling query stay separate. No fragment is shared with a
Spark-side plan, so the oracle stays independent of the code it checks.
``tests/test_reachability.py`` fails when 8 consecutive lines appear in
two string literals of ``plans/*.py``.

This module imports nothing from the rest of ``plans``, so any plan
module can import it at top level without a cycle.
"""

from __future__ import annotations

# The normalization every text/dedup oracle applies before tokenizing —
# the DuckDB twin of functions.text.normalize_text / llmdata.dedup._normalize.
DUCK_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

# SCD2 history construction over events: per (user, day) the LAST
# event's type (argmax by ts with event_id tiebreak — lineitem-style
# determinism), then change-points via lag. w08 selects intervals
# straight off `changes`; j09/e16 extend with the `dim` CTE and the
# temporal join.
SCD2_CHANGES_CTES = """
    daily AS (
      SELECT user_id, d, event_type AS attr FROM (
        SELECT user_id, CAST(ts AS DATE) AS d, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1),
    marked AS (
      SELECT user_id, d, attr,
             LAG(attr) OVER w AS prev_attr
      FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY d)),
    changes AS (
      SELECT user_id, d, attr FROM marked
      WHERE prev_attr IS NULL OR attr <> prev_attr)"""

# j09's oracle and e16's: the streaming drain through the native parquet
# file sink must reproduce the batch temporal join exactly.
SCD2_TEMPORAL_JOIN_SQL = f"""
    WITH {SCD2_CHANGES_CTES},
    dim AS (
      SELECT user_id, attr, d AS valid_from,
             LEAD(d - INTERVAL 1 DAY) OVER
               (PARTITION BY user_id ORDER BY d) AS valid_to
      FROM changes)
    SELECT dim.attr AS regime_attr, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN dim
      ON e.user_id = dim.user_id
     AND CAST(e.ts AS DATE) >= dim.valid_from
     AND (dim.valid_to IS NULL OR CAST(e.ts AS DATE) <= dim.valid_to)
    GROUP BY 1, 2
    """

# a08's per-order part list in (linenumber, partkey) order — the value
# tiebreak because lineitem repeats (orderkey, linenumber) pairs; a28's
# listagg WITHIN GROUP keeps the same contract
ORDERED_PARTS_SQL = """
    SELECT l_orderkey,
           string_agg(CAST(l_partkey AS VARCHAR),
                      ',' ORDER BY l_linenumber, l_partkey) AS parts
    FROM lineitem GROUP BY l_orderkey
    """

# t12's per-document word 3-grams (none under 3 words), next to the raw
# text the quality scores read: toks → grams
GRAMS_CTES = f"""toks AS (
      SELECT doc_id, text, string_split({DUCK_NORM}, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, text,
             CASE WHEN len(w) >= 3
                  THEN [array_to_string(w[i:i+2], ' ')
                        for i in generate_series(1, len(w) - 2)]
                  ELSE [] END AS g
      FROM toks
    )"""

# Language-ID argmax with the deterministic lexicographic tiebreak —
# t03's prediction CASE and t17's confusion rollup.
LANG_ARGMAX_CASE = """
           CASE
             WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END"""
