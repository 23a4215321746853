from __future__ import annotations

import shutil

import pytest
from pyspark.sql import SparkSession

from statschat_ke_spark.corpus import (
    DOCUMENTS_SPARK_SCHEMA,
    generate_documents,
    queries_df,
)
from statschat_ke_spark.index.build import build_index


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("statschat_ke_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    """1k-doc deterministic corpus (FIXTURES.md unit-test scale)."""
    return generate_documents(1000)


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_pdf):
    return spark.createDataFrame(corpus_pdf, schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )


@pytest.fixture(scope="session")
def queries():
    return queries_df()


@pytest.fixture(scope="session")
def index_dir(spark, corpus_df, tmp_path_factory):
    """Index built from html only (extraction exercised), shared by tests."""
    d = str(tmp_path_factory.mktemp("index") / "idx1k")
    shutil.rmtree(d, ignore_errors=True)
    build_index(spark, corpus_df.drop("text"), d)
    return d
