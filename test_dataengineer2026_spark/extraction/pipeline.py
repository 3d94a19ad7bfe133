"""Entry point 3.1 (SURVEY.md §3.1): batch corpus run.

DISCOVER (binaryFile scan, S1) -> PARSE (X1 Pandas UDF, one row per PDF
holding its page array) -> EXTRACT (X3-X6) -> NORMALIZE/VALIDATE (X7-X9)
-> SINK (JSON/CSV/Parquet, S6-S8). Lazy end-to-end: stages 1-5 are one
Catalyst plan; the writes are the only actions.

A corpus run keeps one row per document from the scan to the document
cache: the page texts are joined within the row, and the only shuffle
is the doc_id dedupe of byte-identical files. The first write fills the
cache; the other four read it concurrently.

Scale (TEST.md:65, 1k-10k PDFs): parallelism is the binaryFile scan's
task count. Nothing repartitions the scan, so tasks hold equal file
counts, not equal bytes: on the 100-report perfbench corpus the 4 tasks
read 1.42 to 4.07 MB each, and the largest sets the decode stage's wall
time (pdf.py's module docstring has the measurement). doc_id is a
content hash (stable across re-runs, dedup-friendly) rather than a path
or a monotonic id.
"""

from __future__ import annotations

import functools
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark.extraction import extract as X
from test_dataengineer2026_spark.extraction.pdf import pages_udf


def scan_pdfs(spark: SparkSession, input_dir: str) -> DataFrame:
    """S1: one row per PDF (path, modificationTime, length, content)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(input_dir)
    )


def parse_pages(pdfs: DataFrame) -> DataFrame:
    """X1: binary -> (doc_id, path, pages), one row per PDF; ``pages`` is
    ARRAY<STRUCT<page,text>> in page order; doc_id = sha2(content)."""
    return pdfs.select(*_page_cols())


@functools.cache
def _page_cols() -> tuple[Column, ...]:
    return (
        F.sha2("content", 256).alias("doc_id"),
        F.col("path"),
        pages_udf("content").alias("pages"),
    )


def extract_all(pages: DataFrame) -> dict[str, DataFrame]:
    """X3-X9: the four spec tables plus the quarantine stream."""
    docs = X.doc_text(pages).cache()
    resources_raw = X.extract_resources(docs)
    reserves_raw = X.extract_reserves(docs)
    resources, res_quarantine = X.validate_split(resources_raw)
    reserves, rsv_quarantine = X.validate_split(reserves_raw)
    return {
        "projects": X.extract_metadata(docs),
        "mineral_resources": resources,
        "mineral_reserves": reserves,
        "economics": X.extract_economics(docs),
        "quarantine": res_quarantine.unionByName(rsv_quarantine),
    }


def run_corpus(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    fmt: str = "json",
    single_file: bool = False,
) -> dict[str, DataFrame]:
    """CLI shape: python -m test_dataengineer2026_spark.extraction.pipeline
    --input data/ --output output/ (TEST.md:61-62, 131-138).

    Writes are PARALLEL by default (one file per task — the only
    posture that scales to the spec's 10k-PDF production tier,
    TEST.md:158-163). ``single_file=True`` (CLI ``--single-file``)
    restores the one-file-per-table convenience shape for small
    hand-off runs; it serializes each sink through one task, so it is
    an explicit opt-in, never the default (an unconditional coalesce(1)
    makes every corpus run single-threaded at the sink).

    The first table's write materializes the document cache; the other
    four are then written concurrently from a thread pool, so their jobs
    share the cores and the driver's per-job overhead overlaps. If a
    write fails, the first failure is raised once every write has
    returned or raised.

    The returned frames are lazy; reading them again re-runs the
    extraction, since the document cache is released before return."""
    pages = parse_pages(scan_pdfs(spark, input_dir))
    tables = extract_all(pages)

    def write(name: str, df: DataFrame) -> None:
        out = df.coalesce(1) if single_file else df
        writer = out.write.mode("overwrite")
        if fmt == "json":
            writer.json(f"{output_dir}/{name}")
        elif fmt == "csv":
            writer.option("header", True).csv(f"{output_dir}/{name}")
        else:
            writer.parquet(f"{output_dir}/{name}")

    first, *rest = tables.items()
    try:
        write(*first)
        with ThreadPoolExecutor(len(rest)) as pool:
            for done in [pool.submit(write, *t) for t in rest]:
                done.result()
    finally:
        # Release the document texts extract_all cached, after the pool
        # has waited for every write. Spark keys its cache by plan, so
        # the same derivation finds that entry; left cached, a later run
        # over the same path would read these texts.
        X.doc_text(pages).unpersist()
    return tables


if __name__ == "__main__":  # pragma: no cover
    import argparse

    from test_dataengineer2026_spark.session import get_session

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="json", choices=["json", "csv", "parquet"])
    ap.add_argument(
        "--single-file",
        action="store_true",
        help="coalesce each output table to one file (small hand-off "
        "runs only; serializes the sink through one task)",
    )
    args = ap.parse_args()
    run_corpus(
        get_session("extraction"),
        args.input,
        args.output,
        args.format,
        single_file=args.single_file,
    )
