"""The seeded input corpus, generated once per (size, seed) into a cache.

Pages come from the in-repo generator `sources.corpus.generate_pages`;
doc ids are minted from urls by `sources.corpus.mint_doc_ids`. The cache
keeps the page index and `truth_cluster` next to (doc_id, text) for
scoring, but only (doc_id, text) is handed to the program.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from simages_spark.sources.corpus import generate_pages, mint_doc_ids


def corpus_path(work: Path, n_docs: int, seed: int) -> Path:
    return work / "corpus" / f"pages_n{n_docs}_seed{seed}.parquet"


def ensure_corpus(
    spark: SparkSession, work: Path, n_docs: int, seed: int, partitions: int
) -> Path:
    """Write the corpus for (n_docs, seed) unless it is already cached.
    The write goes to a temporary name first, so an interrupted run
    never leaves a partial cache behind."""
    path = corpus_path(work, n_docs, seed)
    if path.exists():
        return path
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    pages = mint_doc_ids(generate_pages(spark, n_docs, seed=seed, partitions=partitions))
    pages.select(
        "doc_id",
        "text",
        F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long").alias("idx"),
        "truth_cluster",
    ).write.parquet(str(tmp))
    tmp.rename(path)
    return path


def load_docs(spark: SparkSession, path: Path, partitions: int) -> DataFrame:
    """(doc_id, text) spread over the cores and persisted in memory."""
    docs = (
        spark.read.parquet(str(path))
        .select("doc_id", "text")
        .repartition(partitions)
        .persist()
    )
    docs.count()
    return docs


def read_truth(path: Path):
    """The whole cache as pandas: doc_id, text, idx, truth_cluster."""
    return pq.read_table(str(path)).to_pandas()
