"""Log-analytics queries (SURVEY.md §3.3 stage 3 / §5 phase 5) over the
committed deterministic fixtures (FIXTURES.md B6/B7) — nested-JSON
ingest, F7/F10/F11 projections, and the A2-A4 metrics job, each with a
DuckDB oracle reading the very same files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.logs import (
    INPUT_COST_PER_M,
    OUTPUT_COST_PER_M,
    extract_qa,
    filter_eval_set,
    read_logs,
    simplify_messages,
    with_costs,
)
from . import REPO_ROOT, query

LOGS_GLOB = os.path.join(REPO_ROOT, "tests", "fixtures", "ai_logs", "*.json")
EVAL_CSV = os.path.join(REPO_ROOT, "tests", "fixtures", "eval_rows.csv")

_CHECKS = (
    "instructions_follow",
    "instructions_avoid",
    "answer_relevant",
    "answer_clear",
    "answer_citations",
    "completeness",
    "tool_call_search",
)

EVAL_SCHEMA = StructType(
    [StructField("file", StringType()), StructField("input_tokens", LongType()),
     StructField("output_tokens", LongType())]
    + [StructField(c, BooleanType()) for c in _CHECKS]
)


@query(
    "logs_qa_extract",
    f"""
    SELECT parse_filename(filename) AS file, agent_name, model,
           messages[1].parts[1].content AS question,
           messages[-1].parts[1].content AS answer,
           cast(len(messages) as bigint) AS n_messages
    FROM read_json_auto('{LOGS_GLOB}', filename=true)
    WHERE contains(parse_filename(filename), 'gh_agent') AND source = 'ai-generated'
    """,
)
def logs_qa_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 + F7 + F10 over the nested conversation logs."""
    return extract_qa(filter_eval_set(read_logs(spark, LOGS_GLOB)))


@query(
    "logs_tool_usage",
    f"""
    SELECT parse_filename(filename) AS file,
           cast(len(list_filter(flatten(list_transform(messages, m -> m.parts)),
                                p -> p.part_kind = 'tool-call')) as bigint) AS n_tool_calls,
           cast(len(flatten(list_transform(messages, m -> m.parts))) as bigint) AS n_parts
    FROM read_json_auto('{LOGS_GLOB}', filename=true)
    """,
)
def logs_tool_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested higher-order sweep: flatten messages→parts, count tool
    calls per conversation — all JVM-side array functions."""
    logs = read_logs(spark, LOGS_GLOB)
    parts = F.flatten(F.transform(F.col("messages"), lambda m: m["parts"]))
    return logs.select(
        "file",
        F.size(F.filter(parts, lambda p: p["part_kind"] == "tool-call"))
        .cast("long")
        .alias("n_tool_calls"),
        F.size(parts).cast("long").alias("n_parts"),
    )


@query("logs_simplify", None)
def logs_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 redaction/reshape (rows-only here; exact semantics pinned by
    tests/test_logs.py goldens against the reference algorithm)."""
    logs = filter_eval_set(read_logs(spark, LOGS_GLOB))
    return logs.select("file", simplify_messages(F.col("messages")).alias("messages"))


@query(
    "eval_cost_metrics",
    f"""
    SELECT file, input_tokens, output_tokens,
           input_tokens + output_tokens AS total_tokens,
           round(input_tokens / 1000000 * {INPUT_COST_PER_M}, 10) AS input_cost,
           round(output_tokens / 1000000 * {OUTPUT_COST_PER_M}, 10) AS output_cost,
           round(input_tokens / 1000000 * {INPUT_COST_PER_M}
                 + output_tokens / 1000000 * {OUTPUT_COST_PER_M}, 10) AS total_cost
    FROM read_csv('{EVAL_CSV}', header=true,
                  columns={{'file':'VARCHAR','input_tokens':'BIGINT','output_tokens':'BIGINT',
                  {", ".join(f"'{c}':'BOOLEAN'" for c in _CHECKS)}}})
    """,
)
def eval_cost_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-row token/cost arithmetic (reference pricing constants)."""
    rows = spark.read.option("header", "true").schema(EVAL_SCHEMA).csv(EVAL_CSV)
    return with_costs(rows).select(
        "file", "input_tokens", "output_tokens", "total_tokens",
        "input_cost", "output_cost", "total_cost",
    )


@query(
    "eval_check_rates",
    f"""
    SELECT {", ".join(f"round(avg(CASE WHEN {c} THEN 1.0 ELSE 0.0 END) * 100, 6) AS {c}_pct" for c in _CHECKS)},
           cast(sum(input_tokens) as bigint) AS total_input_tokens,
           cast(sum(output_tokens) as bigint) AS total_output_tokens,
           count(*) AS n_evals
    FROM read_csv('{EVAL_CSV}', header=true,
                  columns={{'file':'VARCHAR','input_tokens':'BIGINT','output_tokens':'BIGINT',
                  {", ".join(f"'{c}':'BOOLEAN'" for c in _CHECKS)}}})
    """,
)
def eval_check_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A3: the reference's headline metric — boolean pass rates ×100
    + token totals (``calculate_metrics.py:204-229``). Counts are exact
    integers scaled in double — engine-identical without decimals."""
    rows = spark.read.option("header", "true").schema(EVAL_SCHEMA).csv(EVAL_CSV)
    aggs = [
        F.round(F.avg(F.when(F.col(c), 1.0).otherwise(0.0)) * 100, 6).alias(f"{c}_pct")
        for c in _CHECKS
    ]
    return rows.agg(
        *aggs,
        F.sum("input_tokens").alias("total_input_tokens"),
        F.sum("output_tokens").alias("total_output_tokens"),
        F.count(F.lit(1)).alias("n_evals"),
    )


@query(
    "eval_judge_prompts",
    f"""
    SELECT parse_filename(filename) AS file,
           concat(
             '<INSTRUCTIONS>', system_prompt, '</INSTRUCTIONS>', chr(10),
             '<QUESTION>', messages[1].parts[1].content, '</QUESTION>', chr(10),
             '<ANSWER>', messages[-1].parts[1].content, '</ANSWER>', chr(10),
             '<LOG>',
             array_to_string(list_transform(messages, m -> concat(
               m.kind, '>',
               array_to_string(list_transform(m.parts, p -> concat(
                 p.part_kind, '[', coalesce(p.tool_name, ''), '](',
                 coalesce(p.args, ''), '): ',
                 CASE WHEN p.part_kind = 'tool-return'
                      THEN 'RETURN_RESULTS_REDACTED'
                      ELSE coalesce(p.content, '') END)), '; '))), chr(10)),
             '</LOG>') AS judge_prompt
    FROM read_json_auto('{LOGS_GLOB}', filename=true)
    WHERE contains(parse_filename(filename), 'gh_agent') AND source = 'ai-generated'
    """,
)
def eval_judge_prompts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judge-prompt assembly (reference ``calculate_metrics.py:112-133``,
    ``prompts/eval_checklist.md``): per eval-set conversation, build the
    LLM-judge user prompt — INSTRUCTIONS = system_prompt, QUESTION /
    ANSWER = first / last message content, LOG = the simplified
    (F11-redacted) message list. The reference serializes the log as
    ``json.dumps(indent=2)``; JSON pretty-printing is engine-specific,
    so both engines render the same simplified field set (kind,
    part_kind, tool_name, args, redacted content) through the same
    canonical line grammar instead — pure string arithmetic, fully
    oracle-checked, and a narrow map that scales to billions of logs."""
    logs = filter_eval_set(read_logs(spark, LOGS_GLOB))

    def _part(p):
        return F.concat(
            p["part_kind"], F.lit("["), F.coalesce(p["tool_name"], F.lit("")),
            F.lit("]("), F.coalesce(p["args"], F.lit("")), F.lit("): "),
            F.when(p["part_kind"] == "tool-return", F.lit("RETURN_RESULTS_REDACTED"))
            .otherwise(F.coalesce(p["content"], F.lit(""))),
        )

    def _msg(m):
        return F.concat(
            m["kind"], F.lit(">"), F.array_join(F.transform(m["parts"], _part), "; ")
        )

    log_render = F.array_join(F.transform(F.col("messages"), _msg), "\n")
    question = F.element_at(F.element_at(F.col("messages"), 1)["parts"], 1)["content"]
    answer = F.element_at(F.element_at(F.col("messages"), -1)["parts"], 1)["content"]
    return logs.select(
        "file",
        F.concat(
            F.lit("<INSTRUCTIONS>"), F.col("system_prompt"), F.lit("</INSTRUCTIONS>\n"),
            F.lit("<QUESTION>"), question, F.lit("</QUESTION>\n"),
            F.lit("<ANSWER>"), answer, F.lit("</ANSWER>\n"),
            F.lit("<LOG>"), log_render, F.lit("</LOG>"),
        ).alias("judge_prompt"),
    )
