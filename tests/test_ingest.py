"""Ingest pipeline goldens: parse/convert/enrich stages vs reference
semantics (``zc_agent/prepare_data.py``), zip + tree sources."""

from __future__ import annotations

import zipfile

from pyspark.sql import functions as F

from data_engineering_rag_spark.llm import DeterministicStubLLM
from data_engineering_rag_spark.operators.ingest import (
    ingest_pipeline,
    notebook_to_markdown,
    parse_frontmatter,
    parse_repo_files,
)
from data_engineering_rag_spark.plans.ingestq import REPO_FILES, _files_df
from data_engineering_rag_spark.sources.repo import read_repo_tree, read_repo_zip


def test_parse_frontmatter_shapes():
    meta, body = parse_frontmatter("---\ntitle: Hi\nauthor: me\n---\nbody text")
    assert meta == {"title": "Hi", "author": "me"}
    assert body == "body text"
    assert parse_frontmatter("plain") == ({}, "plain")
    assert parse_frontmatter("---\nunterminated") == ({}, "---\nunterminated")
    assert parse_frontmatter("") == ({}, "")


def test_parse_frontmatter_nested_yaml_golden():
    """Pin the DOCUMENTED narrowing for nested YAML (the reference's
    python-frontmatter, ``prepare_data.py:111-115``, would parse the
    full structure): nested mapping keys are promoted to top level with
    their scalar values (indentation stripped), a parent key with no
    inline value maps to '', and list items ('- x' lines, no colon) are
    dropped. metadata stays flat map<string,string>."""
    text = (
        "---\n"
        "title: Doc\n"
        "author:\n"
        "  name: Alice\n"
        "  email: a@example.com\n"
        "tags:\n"
        "- spark\n"
        "- rag\n"
        "nested: 'quoted: not a split'\n"
        "---\n"
        "the body"
    )
    meta, body = parse_frontmatter(text)
    assert meta == {
        "title": "Doc",
        "author": "",
        "name": "Alice",
        "email": "a@example.com",
        "tags": "",
        # partition() splits on the FIRST colon; quotes stripped from ends
        "nested": "quoted: not a split",
    }
    assert body == "the body"


def test_notebook_to_markdown_golden():
    raw = (
        '{"cells": [{"cell_type": "markdown", "source": ["# T"]},'
        '{"cell_type": "code", "source": ["x=1"], "outputs": [{"text": "1"}]}],'
        '"metadata": {"kernelspec": {"language": "python"}}}'
    )
    assert notebook_to_markdown(raw) == "# T\n\n```python\nx=1\n```"
    assert notebook_to_markdown("not json") == ""


def test_parse_repo_files_branches(spark):
    corpus = {r.filename: r for r in parse_repo_files(_files_df(spark)).collect()}
    # skip rules: hidden, directory, unsupported ext, extensionless all gone
    assert set(corpus) == {
        "README.md",
        "docs/plain.md",
        "docs/guide.mdx",
        "src/app.py",
        "src/query.sql",
        "src/Main.java",
        "notebooks/demo.ipynb",
    }
    assert corpus["README.md"].metadata == {"title": "Zoomcamp", "author": "team"}
    assert corpus["README.md"].content == "# Welcome\nIntro text."
    assert corpus["README.md"].code is False
    assert corpus["src/app.py"].code is True
    assert corpus["docs/plain.md"].metadata == {}


def test_full_pipeline_deterministic(spark):
    out1 = {r.filename: r.content for r in ingest_pipeline(_files_df(spark)).collect()}
    out2 = {r.filename: r.content for r in ingest_pipeline(_files_df(spark)).collect()}
    assert out1 == out2
    # enriched code files carry the stub template, fence-stripped
    assert out1["src/app.py"].startswith("# Summary ")
    assert "```" not in out1["src/app.py"]
    # notebook went JSON → markdown → stub summary
    assert out1["notebooks/demo.ipynb"].startswith("# Summary ")
    # docs untouched by enrichment
    assert out1["README.md"] == "# Welcome\nIntro text."


def test_stub_llm_is_deterministic():
    c = DeterministicStubLLM(seed=42)
    a = c.complete("sys", "user prompt")
    b = c.complete("sys", "user prompt")
    assert a == b
    assert c.complete("sys", "other") != a


def test_zip_source_is_an_arrow_local_relation(spark, tmp_path):
    """``read_repo_zip`` hands Spark its rows as an Arrow local relation
    with ``FILE_SCHEMA``, not a pickled RDD (``LogicalRDD``)."""
    from data_engineering_rag_spark.sources.repo import FILE_SCHEMA

    zpath = str(tmp_path / "repo.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("docs/", "")
        zf.writestr("docs/a.md", "# A")
    files = read_repo_zip(spark, zpath)
    plan = files._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert files.schema == FILE_SCHEMA
    assert sorted(files.collect()) == [("docs/", ""), ("docs/a.md", "# A")]


def test_zip_and_tree_sources_agree(spark, tmp_path):
    zpath = str(tmp_path / "repo.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for p, c in REPO_FILES:
            if p.endswith("/"):
                zf.writestr(zipfile.ZipInfo(p), "")
            else:
                zf.writestr(p, c)
    zdf = read_repo_zip(spark, zpath)
    zout = {r.filename: r.content for r in parse_repo_files(zdf).collect()}

    root = tmp_path / "tree"
    for p, c in REPO_FILES:
        if p.endswith("/"):
            continue
        fp = root / p
        fp.parent.mkdir(parents=True, exist_ok=True)
        fp.write_text(c, encoding="utf-8")
    tdf = read_repo_tree(spark, str(root))
    # tree paths carry the absolute prefix; reuse relative part
    tdf = tdf.withColumn("path", F.regexp_replace("path", f".*/tree/", ""))
    tout = {r.filename: r.content for r in parse_repo_files(tdf).collect()}

    assert zout == tout
    assert "README.md" in zout
