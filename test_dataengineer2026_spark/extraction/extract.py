"""X3-X9: structured extraction from report text into the spec's four
nullable tables (TEST_TECNICO_INGENIERO_DATOS.md:30-54).

Everything is built-in Spark regex/conditional expressions (JVM-side,
TEST.md:82's "regex processing") — after X1's per-document UDF, no
Python runs in the data path, so a 10,000-PDF corpus (TEST.md:65)
extracts at scan speed.

Null contract (X8, TEST.md:30): every field nullable; a failed match is
null, never a dropped row. Numeric normalization (X7): thousands
separators and currency/unit decorations stripped before try_cast.

The Column expressions are built once per process by zero-argument
``functools.cache`` builders (``_table_cols`` is keyed by its anchor and
categories), so each call only runs its ``select``: every ``F.*`` call
is a few py4j round trips (``F.regexp_extract`` measured 3.6 ms), and
building them per corpus run cost 0.42-0.54 s of driver time.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Closed category domains (TEST.md:39,45 + rollup rows observed in the
# sample PDF's Table 1-2 — repo:FIXTURES.md §3).
RESOURCE_CATS = ("Measured + Indicated", "Measured", "Indicated", "Inferred")
RESERVE_CATS = ("Proven + Probable", "Proven", "Probable")

_CAT_ALT = "Measured \\+ Indicated|Proven \\+ Probable|Measured|Indicated|Inferred|Proven|Probable"
_NUM = "[0-9][0-9,]*(?:\\.[0-9]+)?"
ROW_RE = f"({_CAT_ALT}) ({_NUM}) ({_NUM}) ({_NUM})"

_DATE_RE = (
    "(January|February|March|April|May|June|July|August|September|October|"
    "November|December) ([0-9]{1,2}), ([0-9]{4})"
)


def normalize_ws(col: F.Column) -> F.Column:
    """Collapse runs of whitespace to single spaces (X7 precondition —
    the PDF layer emits kerned fragments and newlines)."""
    return F.trim(F.regexp_replace(col, "\\s+", " "))


def parse_number(col: F.Column) -> F.Column:
    """X7: '1,515' / 'US$1,850' / '14.31' -> DOUBLE (null on junk)."""
    return F.regexp_replace(col, "[^0-9.]", "").try_cast("double")


@functools.cache
def _doc_text_cols() -> tuple[tuple[Column, ...], Column]:
    text = normalize_ws(F.concat_ws("\n", F.col("pages").getField("text")))
    return (F.col("doc_id"), text.alias("text")), F.col("text") != ""


def doc_text(pages: DataFrame) -> DataFrame:
    """(doc_id, path, pages) -> (doc_id, text): one row per PDF in, one per
    distinct document out. ``pages`` is X1's ARRAY<STRUCT<page,text>> in
    page order; its texts are joined with newlines and whitespace-
    normalized within the row. Byte-identical files share a doc_id and
    are deduplicated to one document; documents with no text layer (no
    pages) are dropped.

    The empty-text filter sits above the dedupe aggregate on purpose:
    below it, Catalyst pushes the filter beneath the projection and
    evaluates the PDF UDF twice."""
    cols, has_text = _doc_text_cols()
    return pages.select(*cols).dropDuplicates(["doc_id"]).filter(has_text)


#: X8 sentinel spellings of "missing" seen in report tables.
MISSING_SENTINELS = ("", "N/A", "n/a", "-", "--", "NA")


def sentinel_null(col: F.Column) -> F.Column:
    """X8: normalize missing-value sentinels to true NULL, keeping the
    row (TEST.md:30 'leave it empty/null ... get what you can')."""
    t = F.trim(col)
    return F.when(t.isin(*MISSING_SENTINELS), F.lit(None)).otherwise(t)


def extract_table_cells(docs: DataFrame) -> DataFrame:
    """X2: locate the numeric table after its 'Classification' header and
    emit RAW cell strings per row — (doc_id, row_idx, category,
    tonnes_raw, grade_raw, contained_raw). Typing/normalization is X4/X7's
    job; X2 is pure cell recovery (TEST.md:83's table-extraction step,
    re-expressed as regex structure recovery over the X1 text layer)."""
    seg = F.regexp_extract(F.col("text"), "Classification.{0,800}", 0)
    rows = docs.select(
        "doc_id",
        F.posexplode(F.regexp_extract_all(seg, F.lit(ROW_RE), 0)).alias(
            "row_idx", "row"
        ),
    )
    return rows.select(
        "doc_id",
        "row_idx",
        F.regexp_extract("row", ROW_RE, 1).alias("category"),
        F.regexp_extract("row", ROW_RE, 2).alias("tonnes_raw"),
        F.regexp_extract("row", ROW_RE, 3).alias("grade_raw"),
        F.regexp_extract("row", ROW_RE, 4).alias("contained_raw"),
    )


def extract_metadata(docs: DataFrame) -> DataFrame:
    """X3 -> projects(doc_id, project_name, company, country, region,
    report_date) — all nullable (TEST.md:32-36)."""
    return docs.select(*_metadata_cols())


@functools.cache
def _metadata_cols() -> tuple[Column, ...]:
    t = F.col("text")
    title = F.regexp_extract(
        t, "Technical Report for the ([A-Z][A-Za-z ]+?(?:Operations|Project|Mine))", 1
    )
    # "<Project>, <Region>, <Country>" title tail
    region = F.regexp_extract(
        t, "(?:Operations|Project|Mine), ([A-Z][a-zA-Z]+), [A-Z][a-zA-Z]+", 1
    )
    country = F.regexp_extract(
        t, "(?:Operations|Project|Mine), [A-Z][a-zA-Z]+, ([A-Z][a-zA-Z]+)", 1
    )
    company = F.regexp_extract(
        t, "([A-Z][A-Za-z]+(?: [A-Z][A-Za-z]+)* (?:Corporation|Corp|Inc|Ltd|SA|Mining))", 1
    )
    date_str = F.regexp_extract(t, f"effective {_DATE_RE}", 0)
    report_date = F.to_date(
        F.regexp_replace(date_str, "^effective ", ""), "MMMM d, yyyy"
    )
    blank_null = lambda c: F.nullif(c, F.lit(""))  # noqa: E731  (X8)
    return (
        F.col("doc_id"),
        blank_null(title).alias("project_name"),
        blank_null(company).alias("company"),
        blank_null(country).alias("country"),
        blank_null(region).alias("region"),
        report_date.alias("report_date"),
    )


def _table_rows(docs: DataFrame, anchor: str, cats: tuple[str, ...]) -> DataFrame:
    """Rows of the table following ``anchor``: windowed segment -> unit
    from the 'Tonnes (Mt|kt)' header -> category+3-number tuples.

    The anchor requires the 'Classification' header so the table-of-
    contents line (same caption text followed by dot leaders) never
    matches.
    """
    seg_cols, row_cols, in_cats = _table_cols(anchor, cats)
    return docs.select(*seg_cols).select(*row_cols).filter(in_cats)


@functools.cache
def _table_cols(
    anchor: str, cats: tuple[str, ...]
) -> tuple[tuple[Column, ...], tuple[Column, ...], Column]:
    seg = F.regexp_extract(
        F.col("text"), anchor + "[^.]{0,60}Classification.{0,800}", 0
    )
    # Unit headers survive kerning-split tokens ("Tonnes ( k t)" in the
    # sample's reserves table — repo:FIXTURES.md §3 unit trap): allow
    # internal spaces, then strip them from the captured unit.
    strip_ws = lambda c: F.nullif(F.regexp_replace(c, " ", ""), F.lit(""))  # noqa: E731
    tonnes_unit = strip_ws(F.regexp_extract(seg, "Tonnes \\(([A-Za-z ]+)\\)", 1))
    grade_unit = strip_ws(F.regexp_extract(seg, "grade \\(([A-Za-z/% ]+)\\)", 1))
    contained_unit = strip_ws(
        F.regexp_extract(seg, "Contained [a-z]+ \\(([A-Za-z ]+)\\)", 1)
    )
    metal = F.nullif(
        F.initcap(F.regexp_extract(seg, "(?i)(Gold|Silver|Copper) grade", 1)), F.lit("")
    )
    seg_cols = (
        F.col("doc_id"),
        tonnes_unit.alias("tonnes_unit"),
        grade_unit.alias("grade_unit"),
        contained_unit.alias("contained_unit"),
        metal.alias("metal"),
        F.explode_outer(F.regexp_extract_all(seg, F.lit(ROW_RE), 0)).alias("row"),
    )
    row_cols = (
        F.col("doc_id"),
        F.regexp_extract("row", ROW_RE, 1).alias("category"),
        parse_number(F.regexp_extract("row", ROW_RE, 2)).alias("tonnes"),
        F.when(F.col("metal") == "Gold", "Au")
        .when(F.col("metal") == "Silver", "Ag")
        .when(F.col("metal") == "Copper", "Cu")
        .alias("metal"),
        parse_number(F.regexp_extract("row", ROW_RE, 3)).alias("grade_value"),
        F.col("grade_unit"),
        parse_number(F.regexp_extract("row", ROW_RE, 4)).alias("contained_metal"),
        F.col("contained_unit"),
        F.col("tonnes_unit"),
    )
    return seg_cols, row_cols, F.col("category").isin(*cats)


def extract_resources(docs: DataFrame) -> DataFrame:
    """X4 -> mineral_resources (repo:FIXTURES.md §2 schema)."""
    return _table_rows(docs, "mineral resources? ?s? effective", RESOURCE_CATS)


def extract_reserves(docs: DataFrame) -> DataFrame:
    """X5 -> mineral_reserves."""
    return _table_rows(docs, "mineral reserves? ?s? effective", RESERVE_CATS)


def extract_economics(docs: DataFrame) -> DataFrame:
    """X6 -> economics(doc_id, capex, opex, npv, irr, currency) — keyword
    windows; genuinely-absent figures stay null (TEST.md:30; the Segovia
    sample has no NPV/IRR, repo:FIXTURES.md §3)."""
    return docs.select(*_economics_cols())


@functools.cache
def _economics_cols() -> tuple[Column, ...]:
    t = F.col("text")
    num_after = lambda pat: parse_number(  # noqa: E731
        F.nullif(F.regexp_extract(t, pat, 1), F.lit(""))
    )
    currency = F.when(t.contains("US$"), "USD").when(t.contains("C$"), "CAD")
    # NPV/IRR are matched case-SENSITIVELY with word boundaries — a
    # case-insensitive 'irr' would hit 'irregular' and swallow unrelated
    # numbers ('NI 43-101' -> 43.101, observed on the sample).
    return (
        F.col("doc_id"),
        num_after(f"(?i)(?:capital costs?|capex)[^0-9]{{0,40}}({_NUM})").alias("capex"),
        num_after(f"(?i)(?:operating costs? of|opex of)[^0-9]{{0,40}}({_NUM})").alias(
            "opex"
        ),
        num_after(f"\\bNPV\\b[^0-9%]{{0,30}}({_NUM})").alias("npv"),
        num_after(f"\\bIRR\\b[^0-9%]{{0,30}}({_NUM})").alias("irr"),
        currency.alias("currency"),
    )


def validate_split(
    resources: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """X9: domain checks -> (clean, quarantine). Quarantined rows carry a
    reason column (TEST.md:119 correctness / TEST.md:161 error handling)."""
    checks, ok, rejected = _validate_cols()
    clean = resources.filter(ok)
    quarantine = resources.withColumn("reject_reason", checks).filter(rejected)
    return clean, quarantine


@functools.cache
def _validate_cols() -> tuple[Column, Column, Column]:
    checks = (
        F.when(~F.col("category").isin(*RESOURCE_CATS, *RESERVE_CATS), "bad_category")
        .when(F.col("tonnes") <= 0, "nonpositive_tonnes")
        .when((F.col("grade_value") <= 0) | (F.col("grade_value") > 1000), "grade_out_of_range")
    )
    return checks, checks.isNull(), F.col("reject_reason").isNotNull()
