"""Agent-core catalog queries (X3–X10): each reference agent's pure
parse/validation contract exercised over deterministic synthesized
"LLM responses" derived from the documents table, with DuckDB oracles that
reproduce the expected outcome per response branch.

The synthesis is the oracle trick used across this catalog: every response
variant is a pure function of doc_id, so the branch each row takes is known
a priori — the Spark side runs the REAL parser (external/agents.py,
external/urlcheck.py); the oracle computes what that parser must produce.
A parser regression on any branch breaks the value hash.

External-call mocking: q90/q91 use ``hash_transport`` /
``MockRepairClient`` (external/urlcheck.py) whose outcomes are md5-rule
deterministic and therefore SQL-expressible.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexgap_spark.plans.registry import query
from nexgap_spark.session import fan_out_python_stage, load_table as t

# ---------------------------------------------------------------------------
# q87 — fuzzifier response contract (X4; fuzzifier_agent.py:210-255).
# Five response branches: clean JSON, JSON embedded in prose (substring
# salvage), missing fuzzy_query, no JSON at all, blank fuzzy_query.
# ---------------------------------------------------------------------------


@query(
    "q87_fuzzifier_contract",
    oracle="""
    WITH resp AS (SELECT doc_id, doc_id % 5 AS variant FROM documents)
    SELECT CAST(variant AS BIGINT) AS variant,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN variant IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_applied,
           MIN(CASE WHEN variant IN (0, 1) THEN 'fq-' || doc_id END) AS sample_fuzzy,
           MIN(CASE variant
                 WHEN 2 THEN 'Fuzzifier response lacks fuzzy_query'
                 WHEN 3 THEN 'No JSON object detected in fuzzifier response'
                 WHEN 4 THEN 'Fuzzifier response lacks fuzzy_query'
               END) AS sample_error
    FROM resp
    GROUP BY variant
    ORDER BY variant
    """,
)
def q87_fuzzifier_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.agents import parse_fuzzifier_col

    # lean Arrow projection: only the parse inputs + the group key cross
    # the Python boundary (doc_id itself never does)
    docs = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 5).cast("long").alias("variant"),
        F.concat(F.lit("q-"), F.col("doc_id")).alias("query"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.format_string(
                '{"analysis": "a", "fuzzy_query": "fq-%s", "strategy": "soften"}', "doc_id"
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.format_string('Sure! {"analysis": "x", "fuzzy_query": "fq-%s"} done', "doc_id"),
        )
        .when(F.col("doc_id") % 5 == 2, F.lit('{"analysis": "only"}'))
        .when(F.col("doc_id") % 5 == 3, F.lit("no json here"))
        .otherwise(F.lit('{"fuzzy_query": "   "}'))
        .alias("response"),
    )
    parsed = parse_fuzzifier_col(docs, query_col="query", response_col="response")
    return (
        parsed.groupBy("variant")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("applied").cast("long")).alias("n_applied"),
            F.min("fuzzy_query").alias("sample_fuzzy"),
            F.min("error").alias("sample_error"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# q88 — persona suitability parse (X3; rewrite_agent.py:142-149). The
# oracle expresses the SAME containment rule in SQL over the same
# synthesized responses — including the reference's quirk that
# 'UNSUITABLE' reads as suitable (contains SUITABLE, lacks NOT).
# ---------------------------------------------------------------------------

_SUIT_RESPONSES_SQL = """
      CASE doc_id % 6
        WHEN 0 THEN 'SUITABLE'
        WHEN 1 THEN 'NOT_SUITABLE'
        WHEN 2 THEN 'This persona is suitable for the task.'
        WHEN 3 THEN 'suitable, but not ideal'
        WHEN 4 THEN '  Suitable  '
        ELSE 'UNSUITABLE'
      END
"""


@query(
    "q88_persona_suitability",
    oracle=f"""
    WITH resp AS (
      SELECT doc_id, doc_id % 6 AS variant, {_SUIT_RESPONSES_SQL} AS response
      FROM documents
    )
    SELECT CAST(variant AS BIGINT) AS variant,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN contains(upper(trim(response)), 'SUITABLE')
                          AND NOT contains(upper(trim(response)), 'NOT')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_suitable
    FROM resp
    GROUP BY variant
    ORDER BY variant
    """,
)
def q88_persona_suitability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.agents import suitability_expr

    docs = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 6).cast("long").alias("variant"),
        F.expr(_SUIT_RESPONSES_SQL).alias("response"),
    )
    return (
        docs.groupBy("variant")
        .agg(
            F.count("*").alias("n"),
            F.sum(suitability_expr("response").cast("long")).alias("n_suitable"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# q89 — URL extraction + placeholder filtering (X6;
# url_extraction_agent.py:139-166): fenced JSON, mixed real/placeholder
# lists, non-list urls, and garbage branches.
# ---------------------------------------------------------------------------


@query(
    "q89_url_extraction",
    oracle="""
    WITH resp AS (SELECT doc_id, doc_id % 4 AS variant FROM documents)
    SELECT CAST(variant AS BIGINT) AS variant,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN variant IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_urls,
           MIN(CASE variant
                 WHEN 0 THEN 'https://site' || doc_id || '.org/data'
                 WHEN 1 THEN 'https://ok' || doc_id || '.net/f'
               END) AS sample_url
    FROM resp
    GROUP BY variant
    ORDER BY variant
    """,
)
def q89_url_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.agents import parse_extracted_urls

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 4).cast("long").alias("variant"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.format_string(
                '```json\n{"urls": [{"url": "https://site%s.org/data", '
                '"description": "d", "context": "c"}]}\n```',
                "doc_id",
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.format_string(
                '{"urls": [{"url": "https://example.com/x", "description": "", "context": ""},'
                ' {"url": "https://ok%s.net/f", "description": "d2", "context": ""},'
                ' {"url": "<placeholder>", "description": "", "context": ""}]}',
                "doc_id",
            ),
        )
        .when(F.col("doc_id") % 4 == 2, F.lit('{"urls": "nope"}'))
        .otherwise(F.lit("garbage"))
        .alias("response"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls = [parse_extracted_urls(r) for r in pdf["response"]]
            yield pd.DataFrame(
                {
                    "variant": pdf["variant"],
                    "n_urls": [len(u) for u in urls],
                    "first_url": [u[0]["url"] if u else None for u in urls],
                }
            )

    parsed = docs.mapInPandas(run, schema="variant long, n_urls int, first_url string")
    return (
        parsed.groupBy("variant")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_urls").cast("long").alias("n_urls"),
            F.min("first_url").alias("sample_url"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# q90 — URL validation (X7; url_validator_agent.py:118-197) through the
# md5-rule transport: first hex digit of md5('0:'||url) < 3 → timeout,
# 3..5 → HTTP 404, else 200. Failures consume max_retries (2) attempts,
# successes one.
# ---------------------------------------------------------------------------


@query(
    "q90_url_validate",
    oracle="""
    WITH u AS (
      SELECT 'https://host' || doc_id || '.example.org/p' AS url FROM documents
    ),
    c AS (SELECT url, substr(md5('0:' || url), 1, 1) AS h FROM u)
    SELECT CASE WHEN strpos('012', h) > 0 THEN 'Request timeout'
                WHEN strpos('345', h) > 0 THEN 'HTTP 404'
                ELSE 'ok' END AS outcome,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN strpos('012345', h) > 0 THEN 2 ELSE 1 END) AS BIGINT) AS total_attempts,
           MIN(url) AS sample_url
    FROM c
    GROUP BY 1
    ORDER BY outcome
    """,
)
def q90_url_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.urlcheck import hash_transport, validate_urls

    urls = t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://host"), F.col("doc_id"), F.lit(".example.org/p")).alias("url")
    )
    checked = validate_urls(urls, hash_transport)
    return (
        checked.groupBy(F.coalesce("error", F.lit("ok")).alias("outcome"))
        .agg(
            F.count("*").alias("n"),
            F.sum("attempts").cast("long").alias("total_attempts"),
            F.min("url").alias("sample_url"),
        )
        .orderBy("outcome")
    )


# ---------------------------------------------------------------------------
# q91 — URL repair loop (X8; url_processing_agent.py:131-250): the broken
# subset of q90's URLs through the ≤3-round batch-iterative state machine.
# MockRepairClient proposes one md5-derived candidate per round; the oracle
# unrolls the three rounds and picks the first accessible candidate.
# ---------------------------------------------------------------------------


@query(
    "q91_url_repair_loop",
    oracle="""
    WITH u AS (
      SELECT 'https://host' || doc_id || '.example.org/p' AS url FROM documents
      WHERE strpos('012345', substr(md5('0:https://host' || doc_id || '.example.org/p'), 1, 1)) > 0
    ),
    cand AS (
      SELECT url,
             'https://fixed.example/' || substr(md5(url), 1, 8) || '/r1' AS c1,
             'https://fixed.example/' || substr(md5(url), 1, 8) || '/r2' AS c2,
             'https://fixed.example/' || substr(md5(url), 1, 8) || '/r3' AS c3
      FROM u
    ),
    ok AS (
      SELECT url, c1, c2, c3,
             strpos('6789abcdef', substr(md5('0:' || c1), 1, 1)) > 0 AS ok1,
             strpos('6789abcdef', substr(md5('0:' || c2), 1, 1)) > 0 AS ok2,
             strpos('6789abcdef', substr(md5('0:' || c3), 1, 1)) > 0 AS ok3
      FROM cand
    )
    SELECT CASE WHEN ok1 OR ok2 OR ok3 THEN 'replace' ELSE 'remove' END AS action,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN ok1 THEN 1 WHEN ok2 THEN 2 ELSE 3 END) AS BIGINT) AS total_rounds,
           CAST(SUM(CASE WHEN ok1 THEN 1 WHEN ok2 THEN 2 ELSE 3 END) AS BIGINT) AS total_tested,
           MIN(CASE WHEN ok1 THEN c1 WHEN ok2 THEN c2 WHEN ok3 THEN c3 END) AS sample_new_url
    FROM ok
    GROUP BY 1
    ORDER BY action
    """,
)
def q91_url_repair_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.urlcheck import (
        MockRepairClient,
        hash_transport,
        validate_and_repair_urls,
    )

    urls = t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://host"), F.col("doc_id"), F.lit(".example.org/p")).alias("url")
    )
    # fused X7+X8 single-stage form — value-identical to
    # validate_urls → filter(~accessible) → repair_urls_loop (both paths
    # stay covered: q90 proves validate_urls, tests prove the equality)
    # dedupe=False: urls derive from the unique doc_id, so the input is
    # duplicate-free by construction — skip the dropDuplicates exchange
    changes = validate_and_repair_urls(
        urls, client_factory=MockRepairClient, transport_factory=hash_transport,
        dedupe=False,
    )
    return (
        changes.groupBy("action")
        .agg(
            F.count("*").alias("n"),
            F.sum("rounds_used").cast("long").alias("total_rounds"),
            F.sum("suggestions_tested").cast("long").alias("total_tested"),
            F.min("new_url").alias("sample_new_url"),
        )
        .orderBy("action")
    )


# ---------------------------------------------------------------------------
# q92 — file requirement contract (X9; file_requirement_agent.py:91-123):
# bool coercion, falsy-item filtering, non-list coercion, garbage default.
# ---------------------------------------------------------------------------


@query(
    "q92_file_requirement",
    oracle="""
    WITH resp AS (SELECT doc_id, doc_id % 4 AS variant FROM documents)
    SELECT CAST(variant AS BIGINT) AS variant,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN variant IN (0, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_requires,
           CAST(SUM(CASE WHEN variant = 0 THEN 2 ELSE 0 END) AS BIGINT) AS n_items,
           MIN(CASE WHEN variant = 0 THEN 'needs csv' ELSE '' END) AS sample_reason
    FROM resp
    GROUP BY variant
    ORDER BY variant
    """,
)
def q92_file_requirement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.agents import parse_file_requirement

    docs = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4).cast("long").alias("variant"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit(
                '{"requires_files": true, "reason": "needs csv", '
                '"required_items": ["data.csv", "", "img.png"]}'
            ),
        )
        .when(F.col("doc_id") % 4 == 1, F.lit('{"requires_files": false}'))
        .when(
            F.col("doc_id") % 4 == 2,
            F.lit('{"requires_files": true, "required_items": "nope"}'),
        )
        .otherwise(F.lit("garbage"))
        .alias("response"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [parse_file_requirement(r) for r in pdf["response"]]
            yield pd.DataFrame(
                {
                    "variant": pdf["variant"],
                    "requires_files": [r["requires_files"] for r in recs],
                    "n_items": [len(r["required_items"]) for r in recs],
                    "reason": [r["reason"] for r in recs],
                }
            )

    parsed = docs.mapInPandas(
        run, schema="variant long, requires_files boolean, n_items int, reason string"
    )
    return (
        parsed.groupBy("variant")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("requires_files").cast("long")).alias("n_requires"),
            F.sum("n_items").cast("long").alias("n_items"),
            F.min("reason").alias("sample_reason"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# q93 — file plan contract (X9; file_system_agent.py:133-173,278-287):
# directory sanitization, url-required file entries, degenerate names.
# ---------------------------------------------------------------------------


@query(
    "q93_file_plan",
    oracle="""
    WITH resp AS (SELECT doc_id, doc_id % 4 AS variant FROM documents)
    SELECT CAST(variant AS BIGINT) AS variant,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_files,
           MIN(CASE WHEN variant = 0 THEN 'my-data-set-' || doc_id END) AS sample_dir
    FROM resp
    GROUP BY variant
    ORDER BY variant
    """,
)
def q93_file_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.agents import parse_file_plan

    docs = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4).cast("long").alias("variant"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.format_string(
                '{"directory_name": "My Data Set! %s", "files": '
                '[{"url": "https://a/b.csv", "description": " d "}, {"note": "no url"}]}',
                "doc_id",
            ),
        )
        .when(F.col("doc_id") % 4 == 1, F.lit('{"files": "x"}'))
        .when(F.col("doc_id") % 4 == 2, F.lit('Plan: {"directory_name": "---", "files": []}'))
        .otherwise(F.lit("noise"))
        .alias("response"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [parse_file_plan(r) for r in pdf["response"]]
            yield pd.DataFrame(
                {
                    "variant": pdf["variant"],
                    "n_files": [len(r["files"]) for r in recs],
                    "directory_name": [r["directory_name"] for r in recs],
                }
            )

    parsed = docs.mapInPandas(run, schema="variant long, n_files int, directory_name string")
    return (
        parsed.groupBy("variant")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_files").cast("long").alias("n_files"),
            F.min("directory_name").alias("sample_dir"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# q94 — URL query rewrite (X8 rewrite half; url_query_rewrite_agent.py:
# 86-130): JSON rewritten_query wins; any parse failure falls back to the
# deterministic replace / '[URL removed]' application.
# ---------------------------------------------------------------------------


@query(
    "q94_url_rewrite",
    oracle="""
    WITH q AS (
      SELECT doc_id, doc_id % 3 AS variant,
             'see https://a' || doc_id || '.org and https://b' || doc_id || '.org' AS query
      FROM documents
    )
    SELECT CAST(variant AS BIGINT) AS variant,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(CASE WHEN variant IN (0, 1) THEN 'NEW ' || doc_id
                    ELSE 'see https://fixed' || doc_id || '.org and [URL removed]'
               END) AS sample_rewritten
    FROM q
    GROUP BY variant
    ORDER BY variant
    """,
)
def q94_url_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.agents import parse_rewritten_query

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 3).cast("long").alias("variant"),
        F.format_string("see https://a%s.org and https://b%s.org", "doc_id", "doc_id").alias(
            "query"
        ),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.format_string('{"rewritten_query": "NEW %s"}', "doc_id"),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.format_string('```json\n{"rewritten_query": "NEW %s"}\n```', "doc_id"),
        )
        .otherwise(F.lit("sorry, here you go!"))
        .alias("response"),
        F.col("doc_id").cast("string").alias("id_str"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                changes = [
                    {
                        "action": "replace",
                        "original_url": f"https://a{r.id_str}.org",
                        "new_url": f"https://fixed{r.id_str}.org",
                    },
                    {"action": "remove", "original_url": f"https://b{r.id_str}.org"},
                ]
                out.append(
                    {
                        "variant": r.variant,
                        "rewritten": parse_rewritten_query(r.response, r.query, changes),
                    }
                )
            yield pd.DataFrame(out, columns=["variant", "rewritten"])

    parsed = docs.mapInPandas(run, schema="variant long, rewritten string")
    return (
        parsed.groupBy("variant")
        .agg(F.count("*").alias("n"), F.min("rewritten").alias("sample_rewritten"))
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# q95 — new-tag generation parse (X5; sampling_manager.py:461-491):
# first-brace-span regex (nested objects legitimately fail), required
# en/zh/id keys, parent-prefixed ids.
# ---------------------------------------------------------------------------


@query(
    "q95_new_tag_parse",
    oracle="""
    WITH resp AS (SELECT doc_id, doc_id % 5 AS variant FROM documents)
    SELECT CAST(variant AS BIGINT) AS variant,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN variant IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           MIN(CASE variant
                 WHEN 0 THEN 'root_tag_' || doc_id
                 WHEN 1 THEN 'root_x'
               END) AS sample_id
    FROM resp
    GROUP BY variant
    ORDER BY variant
    """,
)
def q95_new_tag_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.agents import parse_new_tag

    docs = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 5).cast("long").alias("variant"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.format_string('{"en": "Type %s", "zh": "类型%s", "id": "tag_%s"}',
                            "doc_id", "doc_id", "doc_id"),
        )
        .when(F.col("doc_id") % 5 == 1, F.lit('Sure: {"en": "E", "zh": "Z", "id": "x"} thanks'))
        .when(F.col("doc_id") % 5 == 2, F.lit('{"en": "E", "zh": "Z"}'))
        .when(F.col("doc_id") % 5 == 3, F.lit('{"en": "E", "zh": "Z", "id": {"nested": 1}}'))
        .otherwise(F.lit("no braces"))
        .alias("response"),
    )

    def run(batches):
        for pdf in batches:
            tags = [parse_new_tag(r, "root") for r in pdf["response"]]
            yield pd.DataFrame(
                {
                    "variant": pdf["variant"],
                    "valid": [tg is not None for tg in tags],
                    "tag_id": [tg["id"] if tg else None for tg in tags],
                }
            )

    parsed = docs.mapInPandas(run, schema="variant long, valid boolean, tag_id string")
    return (
        parsed.groupBy("variant")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("valid").cast("long")).alias("n_valid"),
            F.min("tag_id").alias("sample_id"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# q96 — full URL processing pipeline (X8 orchestration;
# url_processing_agent.py:38-321): extract → validate → repair → rewrite
# in one row-local Arrow stage. The mock extraction client returns the
# query's literal URLs; the rewrite client answers prose, so the
# deterministic replace/'[URL removed]' fallback is what lands in
# processed_query — every step SQL-reproducible via the md5 transport rule.
# ---------------------------------------------------------------------------


@query(
    "q96_url_pipeline",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             'check https://hostA' || doc_id || '.example.org/p and https://hostB' || doc_id || '.example.org/p' AS query,
             'https://hostA' || doc_id || '.example.org/p' AS u1,
             'https://hostB' || doc_id || '.example.org/p' AS u2
      FROM documents
    ),
    r AS (
      SELECT doc_id, query, u1, u2,
             strpos('6789abcdef', substr(md5('0:' || u1), 1, 1)) > 0 AS ok1,
             strpos('6789abcdef', substr(md5('0:' || u2), 1, 1)) > 0 AS ok2,
             'https://fixed.example/' || substr(md5(u1), 1, 8) AS f1,
             'https://fixed.example/' || substr(md5(u2), 1, 8) AS f2
      FROM q
    ),
    v AS (
      SELECT doc_id, query, u1, u2, ok1, ok2,
             CASE WHEN strpos('6789abcdef', substr(md5('0:' || f1 || '/r1'), 1, 1)) > 0 THEN f1 || '/r1'
                  WHEN strpos('6789abcdef', substr(md5('0:' || f1 || '/r2'), 1, 1)) > 0 THEN f1 || '/r2'
                  WHEN strpos('6789abcdef', substr(md5('0:' || f1 || '/r3'), 1, 1)) > 0 THEN f1 || '/r3'
             END AS fix1,
             CASE WHEN strpos('6789abcdef', substr(md5('0:' || f2 || '/r1'), 1, 1)) > 0 THEN f2 || '/r1'
                  WHEN strpos('6789abcdef', substr(md5('0:' || f2 || '/r2'), 1, 1)) > 0 THEN f2 || '/r2'
                  WHEN strpos('6789abcdef', substr(md5('0:' || f2 || '/r3'), 1, 1)) > 0 THEN f2 || '/r3'
             END AS fix2
      FROM r
    ),
    p AS (
      SELECT CAST(ok1 AS INT) + CAST(ok2 AS INT) AS n_accessible,
             (CASE WHEN NOT ok1 AND fix1 IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN NOT ok2 AND fix2 IS NOT NULL THEN 1 ELSE 0 END) AS n_repaired,
             (CASE WHEN NOT ok1 AND fix1 IS NULL THEN 1 ELSE 0 END
              + CASE WHEN NOT ok2 AND fix2 IS NULL THEN 1 ELSE 0 END) AS n_removed,
             replace(replace(query,
                 u1, CASE WHEN ok1 THEN u1 WHEN fix1 IS NOT NULL THEN fix1 ELSE '[URL removed]' END),
                 u2, CASE WHEN ok2 THEN u2 WHEN fix2 IS NOT NULL THEN fix2 ELSE '[URL removed]' END) AS processed
      FROM v
    )
    SELECT CAST(n_accessible AS BIGINT) AS n_accessible,
           CAST(n_repaired AS BIGINT) AS n_repaired,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(processed) AS sample_processed
    FROM p
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q96_url_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.urlcheck import (
        MockUrlPipelineClient,
        hash_transport,
        process_query_urls,
    )

    # NOTE (r7 measurement): repartitioning before the Arrow stage was
    # tried and REVERTED — at sf0.1 (75k rows, mock clients) the exchange
    # plus 32-task scheduling costs more than the parallelism returns
    # (q96 1.0 s → 1.4 s). On a real frontier with network-bound clients
    # the repartition IS the concurrency knob; callers set it by data.
    queries = t(spark, sf_dir, "documents").select(
        F.format_string(
            "check https://hostA%s.example.org/p and https://hostB%s.example.org/p",
            "doc_id", "doc_id",
        ).alias("query")
    )
    out = process_query_urls(
        queries, client_factory=MockUrlPipelineClient, transport_factory=hash_transport
    )
    return (
        out.groupBy(
            F.col("n_accessible").cast("long").alias("n_accessible"),
            F.col("n_repaired").cast("long").alias("n_repaired"),
            F.col("n_removed").cast("long").alias("n_removed"),
        )
        .agg(
            F.count("*").alias("n"),
            F.min("processed_query").alias("sample_processed"),
        )
        .orderBy("n_accessible", "n_repaired", "n_removed")
    )


# ---------------------------------------------------------------------------
# q97 — REAL WAV decode features (multimodal, round 6): stdlib-decodable
# square-wave WAVs synthesized per doc (n = 64 + 2·(doc_id%32) samples of
# ±amp, amp = 100 + doc_id%900, 8 kHz mono 16-bit) → extract_features with
# the genuine stdlib_decode_kernel. A square wave has closed-form features
# (rms = peak = amp, zcr = 1, mean = 0, duration = n/rate), so the oracle
# reproduces the REAL decoder's output exactly — no fake kernel involved.
# ---------------------------------------------------------------------------


@query(
    "q97_wav_features",
    oracle="""
    WITH d AS (SELECT doc_id, doc_id % 32 AS k, 100 + doc_id % 900 AS amp FROM documents)
    SELECT CAST(64 + 2 * k AS BIGINT) AS n_samples,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(amp) AS DOUBLE), 2) AS sum_rms,
           ROUND((64 + 2 * k) / 8000.0, 6) AS dur_s,
           CAST(1.0 AS DOUBLE) AS zcr,
           CAST(0.0 AS DOUBLE) AS abs_mean
    FROM d
    GROUP BY k
    ORDER BY n_samples
    """,
)
def q97_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.operators.multimodal import encode_wav, extract_features, stdlib_decode_kernel

    # codec synth/decode below is CPU-bound per ROW: fan out to core
    # count past the file-split width (a x10 corpus written as 8 files
    # otherwise runs the whole Arrow stage 8-wide on 32 cores)
    docs = fan_out_python_stage(t(spark, sf_dir, "documents").select("doc_id"), cost="per_row")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"]
            payloads = []
            for i in ids:
                n = 64 + 2 * (int(i) % 32)
                amp = 100 + int(i) % 900
                payloads.append(encode_wav([amp, -amp] * (n // 2), rate=8000))
            yield pd.DataFrame(
                {"media_id": ids, "kind": ["audio"] * len(ids), "payload": payloads}
            )

    media = docs.mapInPandas(synth, schema="media_id long, kind string, payload binary")
    feats = extract_features(media, kernel=stdlib_decode_kernel)
    f = F.col("features")
    return (
        feats.select(
            F.element_at(f, 6).cast("long").alias("n_samples"),
            F.element_at(f, 2).alias("rms"),
            F.element_at(f, 1).alias("dur"),
            F.element_at(f, 4).alias("z"),
            F.element_at(f, 5).alias("m"),
        )
        .groupBy("n_samples")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("rms"), 2).alias("sum_rms"),
            F.round(F.min("dur"), 6).alias("dur_s"),
            F.min("z").alias("zcr"),
            F.max(F.abs("m")).alias("abs_mean"),
        )
        .orderBy("n_samples")
    )


# ---------------------------------------------------------------------------
# q101 — REAL PNG decode features (multimodal, round 6): solid-color PNGs
# synthesized per doc (w = 4 + doc_id%8, h = 3 + doc_id%5, RGB value
# v = doc_id%256), encoded with the stdlib PNG encoder and decoded through
# the genuine stdlib_decode_kernel (struct chunk walk + zlib inflate +
# unfilter). A solid raster has closed-form features (mean = min = max =
# v, std = 0, aspect = w/h), so the oracle reproduces the REAL decoder's
# output exactly.
# ---------------------------------------------------------------------------


@query(
    "q101_png_features",
    oracle="""
    WITH d AS (SELECT doc_id, 4 + doc_id % 8 AS w, 3 + doc_id % 5 AS h,
                      doc_id % 256 AS v
               FROM documents)
    SELECT CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(v) AS DOUBLE), 2) AS sum_mean,
           CAST(MAX(v) AS DOUBLE) AS max_px,
           ROUND(CAST(w AS DOUBLE) / h, 6) AS aspect
    FROM d GROUP BY w, h ORDER BY width, height
    """,
)
def q101_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.operators.multimodal import (
        encode_png,
        extract_features,
        stdlib_decode_kernel,
    )

    # codec synth/decode below is CPU-bound per ROW: fan out to core
    # count past the file-split width (a x10 corpus written as 8 files
    # otherwise runs the whole Arrow stage 8-wide on 32 cores)
    docs = fan_out_python_stage(t(spark, sf_dir, "documents").select("doc_id"), cost="per_row")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids = pdf["doc_id"]
            payloads = []
            for i in ids:
                w, h, v = 4 + int(i) % 8, 3 + int(i) % 5, int(i) % 256
                payloads.append(encode_png(np.full((h, w, 3), v, dtype=np.uint8)))
            yield pd.DataFrame(
                {"media_id": ids, "kind": ["image"] * len(ids), "payload": payloads}
            )

    media = docs.mapInPandas(synth, schema="media_id long, kind string, payload binary")
    feats = extract_features(media, kernel=stdlib_decode_kernel)
    f = F.col("features")
    return (
        feats.select(
            F.element_at(f, 1).cast("long").alias("width"),
            F.element_at(f, 2).cast("long").alias("height"),
            F.element_at(f, 4).alias("mean_px"),
            F.element_at(f, 7).alias("max_px"),
            F.element_at(f, 8).alias("aspect"),
        )
        .groupBy("width", "height")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("mean_px"), 2).alias("sum_mean"),
            F.max("max_px").alias("max_px"),
            F.round(F.min("aspect"), 6).alias("aspect"),
        )
        .orderBy("width", "height")
    )


# ---------------------------------------------------------------------------
# q110 — REAL baseline-JPEG decode features (round 8, closing the codec
# boundary VERDICT r7 item 7 left open): solid-gray JPEGs synthesized per
# doc (w = 8 + doc_id%9, h = 6 + doc_id%7, gray v = doc_id%256), encoded
# with the pure-stdlib T.81 encoder and decoded through the genuine
# baseline decoder (operators/jpeg.py: Huffman + dequant + IDCT). With the
# all-8s quant table a flat block's DC (8·(v-128)) quantizes EXACTLY, so
# the lossy format is lossless on solid rasters and the oracle is closed
# form — the same construction as q101's PNG query.
# ---------------------------------------------------------------------------


@query(
    "q110_jpeg_features",
    oracle="""
    WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h,
                      doc_id % 256 AS v
               FROM documents)
    SELECT CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(v) AS DOUBLE), 2) AS sum_mean,
           CAST(MAX(v) AS DOUBLE) AS max_px,
           ROUND(CAST(w AS DOUBLE) / h, 6) AS aspect
    FROM d GROUP BY w, h ORDER BY width, height
    """,
)
def q110_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.operators.jpeg import encode_jpeg
    from nexgap_spark.operators.multimodal import (
        extract_features,
        stdlib_decode_kernel,
    )

    # codec synth/decode below is CPU-bound per ROW: fan out to core
    # count past the file-split width (a x10 corpus written as 8 files
    # otherwise runs the whole Arrow stage 8-wide on 32 cores)
    docs = fan_out_python_stage(t(spark, sf_dir, "documents").select("doc_id"), cost="per_row")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids = pdf["doc_id"]
            payloads = []
            for i in ids:
                w, h, v = 8 + int(i) % 9, 6 + int(i) % 7, int(i) % 256
                payloads.append(encode_jpeg(np.full((h, w), v, dtype=np.uint8)))
            yield pd.DataFrame(
                {"media_id": ids, "kind": ["image"] * len(ids), "payload": payloads}
            )

    media = docs.mapInPandas(synth, schema="media_id long, kind string, payload binary")
    feats = extract_features(media, kernel=stdlib_decode_kernel)
    f = F.col("features")
    return (
        feats.select(
            F.element_at(f, 1).cast("long").alias("width"),
            F.element_at(f, 2).cast("long").alias("height"),
            F.element_at(f, 4).alias("mean_px"),
            F.element_at(f, 7).alias("max_px"),
            F.element_at(f, 8).alias("aspect"),
        )
        .groupBy("width", "height")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("mean_px"), 2).alias("sum_mean"),
            F.max("max_px").alias("max_px"),
            F.round(F.min("aspect"), 6).alias("aspect"),
        )
        .orderBy("width", "height")
    )


# ---------------------------------------------------------------------------
# q105 — the COMPOSED synthesis workflow (X2–X4, X6–X9 chained in the
# reference router's stage order, router_agent.py:80-256): persona
# suitability/rewrite → difficulty-variant synthesis (with per-variant
# fan-out) → URL extract/validate/repair/rewrite → file requirement +
# augmentation → fuzzifier → export record. Every stage's mock response is
# a pure function of doc_id, so the oracle unrolls the entire workflow —
# a regression in ANY stage, or in the ORDER of stages (augment before
# fuzz, URL before augment), breaks the value hash.
# ---------------------------------------------------------------------------


def _wf_staged_sql(where: str = "") -> str:
    """The q105 workflow unrolled in SQL up to the per-variant relation
    ``allrows`` — shared by the q105 aggregate oracle and the q109
    generate-and-execute oracle (single source of truth for the staged
    semantics)."""
    return f"""
    WITH d AS (
      SELECT doc_id, doc_id % 3 AS pv, doc_id % 4 AS rv, doc_id % 5 AS fv,
             'https://hostA' || doc_id || '.example.org/p' AS u,
             CASE WHEN doc_id % 3 = 1 THEN 'A person R' || doc_id
                  ELSE 'P-' || doc_id END AS persona
      FROM documents {where}
    ),
    fail AS (
      SELECT persona, pv = 1 AS was_rewritten, 'synthesis_failed' AS status,
             CAST(NULL AS VARCHAR) AS difficulty,
             CAST(NULL AS BOOLEAN) AS requires_files,
             CAST(NULL AS BOOLEAN) AS augmented,
             CAST(NULL AS BOOLEAN) AS fuzzified,
             CAST(NULL AS VARCHAR) AS fuzz_error,
             CAST(NULL AS VARCHAR) AS final_query,
             CAST(NULL AS BIGINT) AS n_repaired, CAST(NULL AS BIGINT) AS n_removed
      FROM d WHERE rv = 3
    ),
    r AS (
      SELECT *,
             strpos('6789abcdef', substr(md5('0:' || u), 1, 1)) > 0 AS uok,
             'https://fixed.example/' || substr(md5(u), 1, 8) AS f
      FROM d WHERE rv <> 3
    ),
    v AS (
      SELECT *,
             CASE WHEN uok THEN u
                  WHEN strpos('6789abcdef', substr(md5('0:' || f || '/r1'), 1, 1)) > 0 THEN f || '/r1'
                  WHEN strpos('6789abcdef', substr(md5('0:' || f || '/r2'), 1, 1)) > 0 THEN f || '/r2'
                  WHEN strpos('6789abcdef', substr(md5('0:' || f || '/r3'), 1, 1)) > 0 THEN f || '/r3'
             END AS u_fix
      FROM r
    ),
    variants AS (
      SELECT doc_id, pv, rv, fv, persona, 'easy' AS difficulty,
             'E' || doc_id || ' see ' ||
               coalesce(u_fix, '[URL removed]') AS processed,
             CASE WHEN NOT uok AND u_fix IS NOT NULL THEN 1 ELSE 0 END AS n_repaired,
             CASE WHEN u_fix IS NULL THEN 1 ELSE 0 END AS n_removed
      FROM v
      UNION ALL
      SELECT doc_id, pv, rv, fv, persona, 'medium', 'M' || doc_id, 0, 0 FROM v
      UNION ALL
      SELECT doc_id, pv, rv, fv, persona, 'hard', 'H' || doc_id, 0, 0 FROM v
    ),
    staged AS (
      SELECT persona, pv = 1 AS was_rewritten, 'ok' AS status, difficulty,
             rv IN (0, 2) AS requires_files,
             rv = 0 AS augmented,
             fv IN (0, 1) AS fuzzified,
             CASE fv WHEN 2 THEN 'Fuzzifier response lacks fuzzy_query'
                     WHEN 3 THEN 'No JSON object detected in fuzzifier response'
                     WHEN 4 THEN 'Fuzzifier response lacks fuzzy_query' END AS fuzz_error,
             CASE WHEN fv IN (0, 1) THEN 'fq-' || doc_id
                  WHEN rv = 0 THEN 'AUG-' || doc_id
                  ELSE processed END AS final_query,
             CAST(n_repaired AS BIGINT) AS n_repaired,
             CAST(n_removed AS BIGINT) AS n_removed
      FROM variants
    ),
    allrows AS (SELECT * FROM staged UNION ALL SELECT * FROM fail)
    """


def _wf_mock_docs(spark: SparkSession, sf_dir: str, *, max_doc_id: int | None = None):
    """The deterministic per-stage mock responses for the workflow queries
    (one source of truth for q105 and q109)."""
    docs = t(spark, sf_dir, "documents")
    if max_doc_id is not None:
        docs = docs.filter(F.col("doc_id") < max_doc_id)
    return _wf_mock_cols(docs)


def _wf_mock_cols(docs):
    """Mock-response columns as pure functions of doc_id — applicable to
    any frame carrying a doc_id column (the documents table for the
    catalog queries; spark.range(N) for throughput benches that need a
    task count independent of corpus size)."""
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(F.lit("P-"), d).alias("persona"),
        F.when(d % 3 == 0, F.lit("SUITABLE"))
        .when(d % 3 == 1, F.lit("NOT_SUITABLE"))
        .otherwise(F.lit("This persona is suitable for the task."))
        .alias("suit_response"),
        F.concat(F.lit("A person R"), d).alias("rewrite_response"),
        F.when(d % 4 == 3, F.lit("no variants at all"))
        .otherwise(
            F.format_string(
                "**Easy:** E%s see https://hostA%s.example.org/p\n"
                "**Medium:** M%s\n**Hard:** H%s",
                "doc_id", "doc_id", "doc_id", "doc_id",
            )
        )
        .alias("synth_response"),
        F.when(
            d % 4 == 0,
            F.lit('{"requires_files": true, "reason": "needs csv", '
                  '"required_items": ["data.csv"]}'),
        )
        .when(d % 4 == 1, F.lit('{"requires_files": false}'))
        .when(d % 4 == 2, F.lit('{"requires_files": true, "required_items": "nope"}'))
        .otherwise(F.lit("garbage"))
        .alias("req_response"),
        F.when(d % 4 == 0, F.format_string('{"rewritten_query": "AUG-%s"}', "doc_id"))
        .otherwise(F.lit(""))
        .alias("aug_response"),
        F.when(
            d % 5 == 0,
            F.format_string(
                '{"analysis": "a", "fuzzy_query": "fq-%s", "strategy": "soften"}',
                "doc_id",
            ),
        )
        .when(
            d % 5 == 1,
            F.format_string('Sure! {"analysis": "x", "fuzzy_query": "fq-%s"} done', "doc_id"),
        )
        .when(d % 5 == 2, F.lit('{"analysis": "only"}'))
        .when(d % 5 == 3, F.lit("no json here"))
        .otherwise(F.lit('{"fuzzy_query": "   "}'))
        .alias("fuzz_response"),
    )


@query(
    "q105_synthesis_workflow",
    oracle=_wf_staged_sql() + """
    SELECT status, difficulty, was_rewritten, requires_files, augmented,
           fuzzified, n_repaired, n_removed,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN fuzz_error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fuzz_errors,
           MIN(final_query) AS sample_final,
           MIN(persona) AS sample_persona
    FROM allrows
    GROUP BY status, difficulty, was_rewritten, requires_files, augmented,
             fuzzified, n_repaired, n_removed
    ORDER BY status, difficulty, was_rewritten, requires_files, augmented,
             fuzzified, n_repaired, n_removed
    """,
)
def q105_synthesis_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.urlcheck import MockUrlPipelineClient, hash_transport
    from nexgap_spark.external.workflow import run_synthesis_workflow

    docs = _wf_mock_docs(spark, sf_dir)
    wf = run_synthesis_workflow(
        docs.drop("doc_id"),
        client_factory=MockUrlPipelineClient,
        transport_factory=hash_transport,
    )
    return (
        wf.groupBy(
            "status", "difficulty", "was_rewritten", "requires_files",
            "augmented", "fuzzified",
            F.col("n_repaired").cast("long").alias("n_repaired"),
            F.col("n_removed").cast("long").alias("n_removed"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("fuzz_error").isNotNull().cast("long")).alias("n_fuzz_errors"),
            F.min("final_query").alias("sample_final"),
            F.min("persona").alias("sample_persona"),
        )
        .orderBy(
            "status", "difficulty", "was_rewritten", "requires_files",
            "augmented", "fuzzified", "n_repaired", "n_removed",
        )
    )


# ---------------------------------------------------------------------------
# q107 — X11 agent-execution subprocess harness (run_end_to_end.py:186-312)
# through REAL subprocesses: each task row spawns a deterministic /bin/sh
# command whose exit code and LangfuseTraceID line are pure functions of
# the task id, so the oracle knows exactly which rows succeed, which trace
# ids get extracted (success-only, like the reference), and which carry
# the reference's 'Process exited with code N' error. 200 tasks — real
# fork/exec/reap per row, bounded for the driver gate.
# ---------------------------------------------------------------------------


@query(
    "q107_agent_execution",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 3 = 0 AS fails,
             CASE WHEN doc_id % 2 = 0 THEN 'fw-a' ELSE 'fw-b' END AS fw
      FROM documents WHERE doc_id < 200
    )
    SELECT fw AS framework, NOT fails AS success,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN NOT fails THEN 1 ELSE 0 END) AS BIGINT) AS n_traces,
           MIN(CASE WHEN NOT fails THEN 't-' || doc_id END) AS sample_trace,
           MIN(CASE WHEN fails THEN 'Process exited with code 1' END) AS sample_error
    FROM d
    GROUP BY fw, NOT fails
    ORDER BY framework, success
    """,
)
def q107_agent_execution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.external.execution import run_agent_queries

    # repartition IS right here (unlike the mock-parse queries): each row
    # costs a real fork/exec (~40 ms) — spreading 200 of them over the
    # cores is the reference's max_workers pool, 8.6 s → ~1.5 s measured
    tasks = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select(
        F.format_string("task-%s", "doc_id").alias("query"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("fw-a"))
        .otherwise(F.lit("fw-b"))
        .alias("framework"),
    ).repartition(spark.sparkContext.defaultParallelism)

    def builder(q: str, f: str) -> list[str]:
        i = int(q.removeprefix("task-"))
        code = 1 if i % 3 == 0 else 0
        return ["/bin/sh", "-c", f"echo 'LangfuseTraceID: t-{i}'; exit {code}"]

    out = run_agent_queries(tasks, command_builder=builder, timeout_s=60)
    return (
        out.groupBy("framework", "success")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("trace_id").isNotNull().cast("long")).alias("n_traces"),
            F.min("trace_id").alias("sample_trace"),
            F.min("error").alias("sample_error"),
        )
        .orderBy("framework", "success")
    )


# ---------------------------------------------------------------------------
# q109 — the reference's ENTIRE loop: generate queries (the q105 composed
# workflow) then EXECUTE each generated variant through the X11 subprocess
# harness (run_end_to_end.py's generate→run cycle, core/pipeline.py +
# run_end_to_end.py:186-312). The runner's exit code and trace id derive
# from md5(final_query), so the oracle — built on the SAME staged CTEs as
# q105 (_wf_staged_sql, single source of truth) — knows every outcome.
# Real subprocesses: ~675 /bin/sh forks over the cores.
# ---------------------------------------------------------------------------


@query(
    "q109_generate_and_execute",
    oracle=_wf_staged_sql("WHERE doc_id < 300") + """
    , ok AS (SELECT * FROM allrows WHERE status = 'ok'),
    run AS (
      SELECT difficulty,
             strpos('01234567', substr(md5(final_query), 1, 1)) > 0 AS success,
             't-' || substr(md5(final_query), 1, 6) AS tid
      FROM ok
    )
    SELECT difficulty, success,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT) AS n_traces,
           MIN(CASE WHEN success THEN tid END) AS sample_trace,
           MIN(CASE WHEN NOT success THEN 'Process exited with code 1' END)
             AS sample_error
    FROM run
    GROUP BY difficulty, success
    ORDER BY difficulty, success
    """,
)
def q109_generate_and_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from nexgap_spark.external.execution import run_agent_queries
    from nexgap_spark.external.urlcheck import MockUrlPipelineClient, hash_transport
    from nexgap_spark.external.workflow import run_synthesis_workflow

    docs = _wf_mock_docs(spark, sf_dir, max_doc_id=300)
    wf = run_synthesis_workflow(
        docs.drop("doc_id"),
        client_factory=MockUrlPipelineClient,
        transport_factory=hash_transport,
    )
    tasks = (
        wf.filter(F.col("status") == "ok")
        .select(F.col("final_query").alias("query"), F.col("difficulty").alias("framework"))
        .repartition(spark.sparkContext.defaultParallelism)  # fork pool
    )

    def builder(q: str, f: str) -> list[str]:
        h = hashlib.md5(q.encode()).hexdigest()
        code = 0 if h[0] in "01234567" else 1
        return ["/bin/sh", "-c", f"echo 'LangfuseTraceID: t-{h[:6]}'; exit {code}"]

    ran = run_agent_queries(tasks, command_builder=builder, timeout_s=60)
    return (
        ran.groupBy(F.col("framework").alias("difficulty"), "success")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("trace_id").isNotNull().cast("long")).alias("n_traces"),
            F.min("trace_id").alias("sample_trace"),
            F.min("error").alias("sample_error"),
        )
        .orderBy("difficulty", "success")
    )


# ---------------------------------------------------------------------------
# q111 — REAL progressive-JPEG (SOF2) decode features (round 9, closing the
# r8 codec boundary): solid-gray SOF2 streams synthesized per doc with a
# doc-dependent scan script (dc_al = doc_id%3 exercises the DC-first,
# DC-successive-approximation AND DC-refinement decoder paths under the
# oracle gate; every AC band is EOB-coded). Same closed-form construction
# as q110: flat quant ⇒ solid rasters survive the lossy format exactly.
# ---------------------------------------------------------------------------


@query(
    "q111_progressive_jpeg_features",
    oracle="""
    WITH d AS (SELECT doc_id, 9 + doc_id % 8 AS w, 5 + doc_id % 6 AS h,
                      (doc_id * 31) % 256 AS v
               FROM documents)
    SELECT CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(v) AS DOUBLE), 2) AS sum_mean,
           CAST(MAX(v) AS DOUBLE) AS max_px,
           ROUND(CAST(w AS DOUBLE) / h, 6) AS aspect
    FROM d GROUP BY w, h ORDER BY width, height
    """,
)
def q111_progressive_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.operators.jpeg import encode_jpeg_progressive
    from nexgap_spark.operators.multimodal import (
        extract_features,
        stdlib_decode_kernel,
    )

    # codec synth/decode below is CPU-bound per ROW: fan out to core
    # count past the file-split width (a x10 corpus written as 8 files
    # otherwise runs the whole Arrow stage 8-wide on 32 cores)
    docs = fan_out_python_stage(t(spark, sf_dir, "documents").select("doc_id"), cost="per_row")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids = pdf["doc_id"]
            payloads = []
            for i in ids:
                w, h, v = 9 + int(i) % 8, 5 + int(i) % 6, (int(i) * 31) % 256
                payloads.append(
                    encode_jpeg_progressive(
                        np.full((h, w), v, dtype=np.uint8), dc_al=int(i) % 3
                    )
                )
            yield pd.DataFrame(
                {"media_id": ids, "kind": ["image"] * len(ids), "payload": payloads}
            )

    media = docs.mapInPandas(synth, schema="media_id long, kind string, payload binary")
    feats = extract_features(media, kernel=stdlib_decode_kernel)
    f = F.col("features")
    return (
        feats.select(
            F.element_at(f, 1).cast("long").alias("width"),
            F.element_at(f, 2).cast("long").alias("height"),
            F.element_at(f, 4).alias("mean_px"),
            F.element_at(f, 7).alias("max_px"),
            F.element_at(f, 8).alias("aspect"),
        )
        .groupBy("width", "height")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("mean_px"), 2).alias("sum_mean"),
            F.max("max_px").alias("max_px"),
            F.round(F.min("aspect"), 6).alias("aspect"),
        )
        .orderBy("width", "height")
    )


# ---------------------------------------------------------------------------
# q112 — REAL MP4 container metadata (round 9, shrinking the video
# boundary): deterministic ISO-BMFF files synthesized per doc and parsed
# back through the genuine box-walk parser in the multimodal kernel.
# Every 5th doc is a FRAGMENTED MP4 (encode_fmp4: moov carries only trex
# defaults, samples arrive in moof/trun runs — the DASH/CMAF layout), the
# rest are monolithic (encode_mp4: stbl sample tables; even doc_ids also
# carry an audio track) — so both demux paths sit under the external
# oracle gate. The container level of a video file is pure struct
# parsing, so every feature is closed-form; only decoding frame PAYLOADS
# to pixels remains codec-bound (multimodal.real_decode_kernel). mvhd
# timescale = 1000·fps (and n/fps for the fragment fallback) makes
# duration_s = n_frames/fps an exact double in both engines.
# ---------------------------------------------------------------------------


@query(
    "q112_mp4_metadata",
    oracle="""
    WITH d AS (SELECT doc_id,
                      16 * (1 + doc_id % 4) AS w,
                      16 * (1 + doc_id % 3) AS h,
                      5 + doc_id % 10 AS nf,
                      10 + doc_id % 5 AS fps,
                      24 + doc_id % 8 AS fb,
                      CASE WHEN doc_id % 5 = 0 THEN 1
                           WHEN doc_id % 2 = 0 THEN 2
                           ELSE 1 END AS nt
               FROM documents)
    SELECT CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS sum_tracks,
           CAST(SUM(nf) AS BIGINT) AS sum_frames,
           ROUND(SUM(nf / CAST(fps AS DOUBLE)), 4) AS sum_duration,
           ROUND(CAST(SUM(fb) AS DOUBLE), 2) AS sum_avg_bytes,
           ROUND(CAST(w AS DOUBLE) / h, 6) AS aspect
    FROM d GROUP BY w, h ORDER BY width, height
    """,
)
def q112_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.operators.mp4 import encode_fmp4, encode_mp4
    from nexgap_spark.operators.multimodal import (
        extract_features,
        stdlib_decode_kernel,
    )

    # codec synth/decode below is CPU-bound per ROW: fan out to core
    # count past the file-split width (a x10 corpus written as 8 files
    # otherwise runs the whole Arrow stage 8-wide on 32 cores)
    docs = fan_out_python_stage(t(spark, sf_dir, "documents").select("doc_id"), cost="per_row")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"]
            payloads = []
            for i in ids:
                i = int(i)
                if i % 5 == 0:
                    payloads.append(
                        encode_fmp4(
                            16 * (1 + i % 4),
                            16 * (1 + i % 3),
                            5 + i % 10,
                            fps=10 + i % 5,
                            frame_bytes=24 + i % 8,
                            frames_per_fragment=3,
                        )
                    )
                    continue
                payloads.append(
                    encode_mp4(
                        16 * (1 + i % 4),
                        16 * (1 + i % 3),
                        5 + i % 10,
                        fps=10 + i % 5,
                        frame_bytes=24 + i % 8,
                        audio_samples=16 if i % 2 == 0 else 0,
                    )
                )
            yield pd.DataFrame(
                {"media_id": ids, "kind": ["video"] * len(ids), "payload": payloads}
            )

    media = docs.mapInPandas(synth, schema="media_id long, kind string, payload binary")
    feats = extract_features(media, kernel=stdlib_decode_kernel)
    f = F.col("features")
    return (
        feats.select(
            F.element_at(f, 1).cast("long").alias("width"),
            F.element_at(f, 2).cast("long").alias("height"),
            F.element_at(f, 3).cast("long").alias("tracks"),
            F.element_at(f, 4).alias("dur"),
            F.element_at(f, 6).cast("long").alias("nf"),
            F.element_at(f, 7).alias("avg_bytes"),
            F.element_at(f, 8).alias("aspect"),
        )
        .groupBy("width", "height")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tracks").alias("sum_tracks"),
            F.sum("nf").alias("sum_frames"),
            F.round(F.sum("dur"), 4).alias("sum_duration"),
            F.round(F.sum("avg_bytes"), 2).alias("sum_avg_bytes"),
            F.round(F.min("aspect"), 6).alias("aspect"),
        )
        .orderBy("width", "height")
    )


# ---------------------------------------------------------------------------
# q113 — MJPEG frame-PIXEL decode end-to-end: per doc an MJPEG
# (Motion-JPEG-in-MP4) file is written with the pure-stdlib muxer whose
# samples are REAL JPEGs from the from-scratch T.81 encoder, then the
# pipeline demuxes the samples (mp4.py sample tables) and decodes each to
# pixels (jpeg.py) — the first query past the container level into frame
# payloads, closing the video-pixel boundary for the one codec family
# that needs no inter-frame stack. Gray values are EVEN constants, so the
# lossy format is exact on solid rasters (DC quant 16 divides 8·v-1024)
# and every per-frame mean is closed form.
# ---------------------------------------------------------------------------


@query(
    "q113_mjpeg_video_pixels",
    oracle="""
    WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents),
         f AS (SELECT doc_id, CAST(j.j AS BIGINT) AS j
               FROM d, unnest(range(0, nf)) AS j(j))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           ROUND(SUM(CAST(2 * ((doc_id * 7 + j * 13) % 120) + 8 AS DOUBLE)), 2)
               AS mean_sum,
           ROUND(MAX(CAST(2 * ((doc_id * 7 + j * 13) % 120) + 8 AS DOUBLE)), 2)
               AS max_mean
    FROM f GROUP BY doc_id ORDER BY doc_id
    """,
)
def q113_mjpeg_video_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.operators.jpeg import encode_jpeg
    from nexgap_spark.operators.mp4 import encode_mp4
    from nexgap_spark.operators.multimodal import decode_video_frames

    # codec synth/decode below is CPU-bound per ROW: fan out to core
    # count past the file-split width (a x10 corpus written as 8 files
    # otherwise runs the whole Arrow stage 8-wide on 32 cores)
    docs = fan_out_python_stage(t(spark, sf_dir, "documents").select("doc_id"), cost="per_row")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids = pdf["doc_id"]
            payloads = []
            for i in ids:
                i = int(i)
                nf = 2 + i % 3
                frames = [
                    encode_jpeg(
                        np.full(
                            (16, 16), 2 * ((i * 7 + j * 13) % 120) + 8,
                            dtype=np.uint8,
                        )
                    )
                    for j in range(nf)
                ]
                payloads.append(
                    encode_mp4(16, 16, nf, fps=10, frames=frames, codec=b"jpeg")
                )
            yield pd.DataFrame(
                {"media_id": ids, "kind": ["video"] * len(ids), "payload": payloads}
            )

    media = docs.mapInPandas(synth, schema="media_id long, kind string, payload binary")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar accumulation + zip over columns, not list-of-dicts +
            # iterrows: both measurably taxed the 50 k-doc stage
            ids, nfs, sums, maxs = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                means = [
                    float(fr.mean()) for fr in decode_video_frames(bytes(payload))
                ]
                ids.append(int(mid))
                nfs.append(len(means))
                sums.append(round(sum(means), 2))
                maxs.append(round(max(means), 2))
            yield pd.DataFrame(
                {"doc_id": ids, "n_frames": nfs, "mean_sum": sums, "max_mean": maxs}
            )

    out = media.mapInPandas(
        decode, schema="doc_id long, n_frames long, mean_sum double, max_mean double"
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# q119 — GIF89a inter-frame decode end-to-end (round 15): per doc a real
# GIF is written by the from-scratch encoder (operators/gif.py — LZW,
# interlaced base frame, disposal-2 patches with transparent stripes),
# then decoded back through frame COMPOSITION, the genuinely inter-frame
# part H.26x is stubbed behind: frame j's pixels = background canvas
# (disposal 2 of frame j-1) + the patch's opaque rows, and the transparent
# rows show the canvas beneath. Every composed mean is closed form:
#   frame 0 (full 16x16, row r = b+3r, interlaced): mean = b + 22.5
#   frame j (8x8 patch v_j, odd rows transparent, over bg=40):
#           mean = (40*224 + v_j*32) / 256
# f0_rowsum = sum_r frame0[r]*(r+1) = 136*b + 4080 pins the de-interlace
# row order (a permuted raster keeps the mean but breaks the weighted sum).
# ---------------------------------------------------------------------------


@query(
    "q119_gif_animation",
    oracle="""
    WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS nf,
                      (doc_id * 5) % 200 + 10 AS b
               FROM documents),
         f AS (SELECT doc_id, b, CAST(j.j AS BIGINT) AS j
               FROM d, unnest(range(0, nf)) AS j(j)),
         m AS (SELECT doc_id, b, j,
                      CASE WHEN j = 0 THEN b + 22.5
                           ELSE (40 * 224 +
                                 ((doc_id * 7 + j * 11) % 200 + 12) * 32)
                                / 256.0
                      END AS fmean
               FROM f)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           ROUND(SUM(fmean), 2) AS mean_sum,
           ROUND(MAX(fmean), 2) AS max_mean,
           CAST(MAX(b) * 136 + 4080 AS BIGINT) AS f0_rowsum
    FROM m GROUP BY doc_id ORDER BY doc_id
    """,
)
def q119_gif_animation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexgap_spark.operators.gif import decode_gif_frames, encode_gif

    # codec-weight per-row stage (~ms/row over an id-only frame): see the
    # "codec" class of session.FANOUT_BYTES_PER_TASK
    docs = fan_out_python_stage(
        t(spark, sf_dir, "documents").select("doc_id"), cost="codec"
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, payloads = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                nf = 2 + i % 3
                b = (i * 5) % 200 + 10
                base = np.repeat(
                    (b + 3 * np.arange(16, dtype=np.int64)).astype(np.uint8), 16
                ).reshape(16, 16)
                frames = [{"indices": base, "disposal": 2, "interlace": True}]
                for j in range(1, nf):
                    v = (i * 7 + j * 11) % 200 + 12
                    patch = np.full((8, 8), v, np.uint8)
                    patch[1::2, :] = 7  # transparent stripes
                    q = (j - 1) % 4
                    frames.append(
                        {
                            "indices": patch,
                            "left": (q % 2) * 8,
                            "top": (q // 2) * 8,
                            "disposal": 2,
                            "transparent": 7,
                        }
                    )
                ids.append(i)
                payloads.append(
                    encode_gif(frames, width=16, height=16, bg_index=40)
                )
            yield pd.DataFrame(
                {"media_id": ids, "kind": ["gif"] * len(ids), "payload": payloads}
            )

    media = docs.mapInPandas(synth, schema="media_id long, kind string, payload binary")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        w = np.arange(16, dtype=np.int64) + 1
        for pdf in batches:
            ids, nfs, sums, maxs, rowsums = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = decode_gif_frames(bytes(payload))
                means = [float(fr.mean()) for fr in frames]
                ids.append(int(mid))
                nfs.append(len(means))
                # full precision here; the 2dp round happens in Spark below
                # (F.round is HALF_UP like DuckDB's ROUND — Python's round()
                # is banker's and splits on the exact .125 eighths these
                # /256 means land on)
                sums.append(sum(means))
                maxs.append(max(means))
                rowsums.append(
                    int((frames[0][:, 0, 0].astype(np.int64) * w).sum())
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_frames": nfs,
                    "mean_sum": sums,
                    "max_mean": maxs,
                    "f0_rowsum": rowsums,
                }
            )

    out = media.mapInPandas(
        decode,
        schema="doc_id long, n_frames long, mean_sum double, max_mean double, "
        "f0_rowsum long",
    )
    return out.select(
        "doc_id",
        "n_frames",
        F.round("mean_sum", 2).alias("mean_sum"),
        F.round("max_mean", 2).alias("max_mean"),
        "f0_rowsum",
    ).orderBy("doc_id")
