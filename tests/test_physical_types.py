"""Round-14 physical-type pins: legacy and edge-value parquet
spellings that a 100 TB lake accumulates from a decade of writers,
each verified value-exact across Spark, DuckDB (and pyarrow where it
adds a third reader).

Three families:
1. INT96 timestamps — the deprecated-but-everywhere spelling of every
   Hive/Impala/old-Spark era file (Spark still WRITES it behind
   spark.sql.parquet.outputTimestampType=INT96).
2. Decimal physical spellings — the same logical DECIMAL(p,s) lands as
   INT32 (p<=9), INT64 (p<=18) or FIXED_LEN_BYTE_ARRAY depending on
   writer generation and precision; Spark's writeLegacyFormat flips
   the integer spellings to minimal-width FLBA.
3. Float edge values — NaN / +-Inf / -0.0 through filters AND
   stats-based row-group pruning, where writers disagree about what
   stats to record (Spark's parquet-mr records max=NaN; pyarrow omits
   min/max for NaN-only row groups) and a reader that trusts the
   wrong convention silently drops rows.

All pins are PARITY pins (everything here decodes exactly in this
stack — probed 2026-08); they exist so a Spark/DuckDB upgrade that
breaks one of these decoders fails a named test instead of a random
registry query.
"""

from __future__ import annotations

import glob
import math
import os
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def _physical_lines(path: str, *needles: str) -> list[str]:
    # The first line is the schema object's repr; its hex address can
    # hold a needle such as "d7".
    return [
        ln.strip()
        for ln in str(pq.ParquetFile(path).schema).splitlines()[1:]
        if any(n in ln for n in needles)
    ]


def test_int96_timestamp_cross_engine(spark, tmp_path):
    """INT96 write + read: microsecond-exact in Spark, DuckDB and
    pyarrow, including a PRE-EPOCH timestamp (negative nanos-of-day
    handling is where INT96 decoders historically diverge)."""
    from test_dataengineer2026_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)  # UTC session
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    out = str(tmp_path / "int96")
    try:
        spark.createDataFrame(
            [
                (1, "2024-03-01 12:34:56.789012"),
                (2, "1969-12-31 23:59:59.000001"),
            ],
            "k long, s string",
        ).selectExpr("k", "CAST(s AS TIMESTAMP) AS ts").coalesce(1).write.parquet(out)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    f = glob.glob(os.path.join(out, "part-*.parquet"))[0]
    assert any("int96" in ln for ln in _physical_lines(f, "ts")), _physical_lines(f, "ts")
    want = [
        (1, "2024-03-01 12:34:56.789012"),
        (2, "1969-12-31 23:59:59.000001"),
    ]
    got_spark = [
        (r.k, str(r.ts)) for r in spark.read.parquet(f).orderBy("k").collect()
    ]
    assert got_spark == want, got_spark
    con = duckdb.connect()
    got_duck = con.execute(
        f"SELECT k, CAST(ts AS VARCHAR) FROM read_parquet('{f}') ORDER BY k"
    ).fetchall()
    assert got_duck == want, got_duck
    got_pa = [(r["k"], str(r["ts"])) for r in pq.read_table(f).to_pylist()]
    assert sorted(got_pa) == want, got_pa


def test_decimal_physical_spellings_cross_engine(spark, tmp_path):
    """One logical row of DECIMAL(7,2)/DECIMAL(15,3)/DECIMAL(23,4)
    written three ways — Spark modern (INT32/INT64/FLBA by precision),
    Spark legacy (minimal-width FLBA for all three), pyarrow (FLBA) —
    must decode to identical exact strings in both engines."""
    want = ("12345.67", "123456789012.345", "-9876543210987654321.0123")
    df = spark.createDataFrame([(1,)], "k long").selectExpr(
        "k",
        f"CAST({want[0]} AS DECIMAL(7,2)) AS d7",
        f"CAST({want[1]} AS DECIMAL(15,3)) AS d15",
        f"CAST({want[2]} AS DECIMAL(23,4)) AS d23",
    )
    con = duckdb.connect()

    def check(f: str) -> None:
        got_duck = con.execute(
            "SELECT CAST(d7 AS VARCHAR), CAST(d15 AS VARCHAR), "
            f"CAST(d23 AS VARCHAR) FROM read_parquet('{f}')"
        ).fetchone()
        assert got_duck == want, (f, got_duck)
        r = spark.read.parquet(f).collect()[0]
        assert (str(r.d7), str(r.d15), str(r.d23)) == want, (f, r)

    # Spark modern: integer spellings below 19 digits
    prev = spark.conf.get("spark.sql.parquet.writeLegacyFormat")
    out_m = str(tmp_path / "dec_modern")
    out_l = str(tmp_path / "dec_legacy")
    try:
        spark.conf.set("spark.sql.parquet.writeLegacyFormat", "false")
        df.coalesce(1).write.parquet(out_m)
        spark.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
        df.coalesce(1).write.parquet(out_l)
    finally:
        spark.conf.set("spark.sql.parquet.writeLegacyFormat", prev)
    f_m = glob.glob(os.path.join(out_m, "part-*.parquet"))[0]
    lines = _physical_lines(f_m, "d7", "d15", "d23")
    assert any("int32" in ln and "d7" in ln for ln in lines), lines
    assert any("int64" in ln and "d15" in ln for ln in lines), lines
    assert any("fixed_len_byte_array(10)" in ln and "d23" in ln for ln in lines), lines
    check(f_m)
    # Spark legacy: minimal-width FLBA for every precision
    f_l = glob.glob(os.path.join(out_l, "part-*.parquet"))[0]
    lines_l = _physical_lines(f_l, "d7", "d15", "d23")
    assert all("fixed_len_byte_array" in ln for ln in lines_l), lines_l
    assert any("fixed_len_byte_array(4)" in ln and "d7" in ln for ln in lines_l), lines_l
    check(f_l)
    # pyarrow: FLBA (decimal128) — the arrow-native writer's spelling
    import decimal

    f_pa = str(tmp_path / "dec_pa.parquet")
    pq.write_table(
        pa.table(
            {
                "k": [1],
                "d7": pa.array([decimal.Decimal(want[0])], pa.decimal128(7, 2)),
                "d15": pa.array([decimal.Decimal(want[1])], pa.decimal128(15, 3)),
                "d23": pa.array([decimal.Decimal(want[2])], pa.decimal128(23, 4)),
            }
        ),
        f_pa,
    )
    check(f_pa)


def test_float_edge_values_pruning_parity(spark, tmp_path):
    """NaN / +-Inf / -0.0 through filters and row-group pruning.

    Writer asymmetry on stats (probed): pyarrow OMITS min/max for a
    NaN-only row group and excludes NaN otherwise; Spark's parquet-mr
    records max=NaN. Reader contract pinned here:
    1. a NaN-only row group without min/max stats is NOT pruned — the
       predicate v > 100 must still surface the NaN rows in BOTH
       engines (both order NaN above +Inf, matching each other);
    2. -0.0 equals 0.0 under equality in both engines;
    3. -Inf stays below every finite value (v < 1.5 returns only the
       true smalls, never pruned wrongly).
    A reader that trusts max=NaN as an orderable bound, or prunes
    stats-less row groups, silently drops rows — invisible until a
    quality filter starts passing NaN-scored documents at 100 TB."""
    from pyspark.sql import functions as F

    nan, inf = float("nan"), float("inf")
    con = duckdb.connect()

    # --- multi-row-group pyarrow file: [1,2] [nan,nan] [500,600] ---
    f_rg = str(tmp_path / "nan_rg.parquet")
    pq.write_table(
        pa.table(
            {
                "k": list(range(6)),
                "v": pa.array([1.0, 2.0, nan, nan, 500.0, 600.0], pa.float64()),
            }
        ),
        f_rg,
        row_group_size=2,
    )
    md = pq.ParquetFile(f_rg).metadata
    assert md.num_row_groups == 3
    st_nan = md.row_group(1).column(1).statistics
    assert st_nan is None or not st_nan.has_min_max  # NaN-only rg: no stats
    got_spark = sorted(
        r.k for r in spark.read.parquet(f_rg).filter(F.col("v") > 100.0).collect()
    )
    got_duck = sorted(
        r[0]
        for r in con.execute(
            f"SELECT k FROM read_parquet('{f_rg}') WHERE v > 100"
        ).fetchall()
    )
    # NaN rows (2,3) surface alongside the true larges (4,5) in BOTH
    assert got_spark == [2, 3, 4, 5], got_spark
    assert got_duck == [2, 3, 4, 5], got_duck
    # the small row group still prunes/filters correctly
    assert sorted(
        r.k for r in spark.read.parquet(f_rg).filter(F.col("v") < 1.5).collect()
    ) == [0]
    assert con.execute(
        f"SELECT k FROM read_parquet('{f_rg}') WHERE v < 1.5"
    ).fetchall() == [(0,)]

    # --- single file with the full edge set, both writers ---
    vals = [1.0, 2.0, nan, -inf, inf, -0.0, 0.0, 3.5]
    f_pa = str(tmp_path / "edges_pa.parquet")
    pq.write_table(
        pa.table({"k": list(range(8)), "v": pa.array(vals, pa.float64())}), f_pa
    )
    out_sw = str(tmp_path / "edges_spark")
    spark.createDataFrame(
        list(zip(range(8), vals)), "k long, v double"
    ).coalesce(1).write.parquet(out_sw)
    f_sw = glob.glob(os.path.join(out_sw, "part-*.parquet"))[0]
    # the writer-stats asymmetry this pin documents
    st_pa = pq.ParquetFile(f_pa).metadata.row_group(0).column(1).statistics
    assert st_pa.has_min_max and st_pa.min == -inf and st_pa.max == inf
    st_sw = pq.ParquetFile(f_sw).metadata.row_group(0).column(1).statistics
    assert st_sw.has_min_max and math.isnan(st_sw.max), (st_sw.min, st_sw.max)

    for f in (f_pa, f_sw):
        sdf = spark.read.parquet(f)
        duck = lambda w: sorted(  # noqa: E731
            r[0]
            for r in con.execute(
                f"SELECT k FROM read_parquet('{f}') WHERE {w}"
            ).fetchall()
        )
        # NaN above +Inf: > 2.5 picks NaN(2), +Inf(4), 3.5(7)
        assert sorted(r.k for r in sdf.filter(F.col("v") > 2.5).collect()) == [2, 4, 7]
        assert duck("v > 2.5") == [2, 4, 7]
        # -0.0 == 0.0
        assert sorted(r.k for r in sdf.filter(F.col("v") == 0.0).collect()) == [5, 6]
        assert duck("v = 0.0") == [5, 6]
        # -Inf below everything finite; -0.0 is NOT < 0
        assert sorted(r.k for r in sdf.filter(F.col("v") < 0.0).collect()) == [3]
        assert duck("v < 0.0") == [3]
        # NaN addressable directly
        assert sorted(r.k for r in sdf.filter(F.isnan("v")).collect()) == [2]
        assert duck("isnan(v)") == [2]


def test_page_index_selective_read_exact(spark, tmp_path):
    """Page-level pruning correctness (column-index / offset-index):
    a file with ~256-byte data pages and a HIGHLY selective pushed
    predicate forces the reader down the page-skipping path (parquet-mr
    reads only the pages whose column-index range matches; DuckDB uses
    its own page statistics). Every earlier tiny-page pin aggregated
    UNFILTERED, so the page-selection machinery itself was never on a
    tested path. Both engines must return the exact matching rows —
    wrongly-skipped pages are silent row loss, the worst failure mode
    a 100 TB scan can have. The data is SORTED by the filter column so
    page ranges are disjoint and most pages are skippable; the probe
    predicate lands entirely inside interior pages."""
    import pyarrow.compute as pc

    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    src = os.path.join(SF_DIR, "lineitem.parquet")
    t = pq.read_table(src, columns=["l_orderkey", "l_linenumber", "l_quantity"])
    t = t.sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")])
    tiny = str(tmp_path / "tiny_pages.parquet")
    pq.write_table(
        t,
        tiny,
        row_group_size=2000,
        data_page_size=256,
        use_dictionary=False,
        write_page_index=True,
    )
    md = pq.ParquetFile(tiny).metadata
    assert md.num_row_groups >= 2
    con = duckdb.connect()
    lo, hi = con.execute(
        f"SELECT MIN(l_orderkey), MAX(l_orderkey) FROM read_parquet('{tiny}')"
    ).fetchone()
    mid_lo = lo + (hi - lo) * 2 // 5
    mid_hi = lo + (hi - lo) * 3 // 5
    truth = con.execute(
        f"SELECT l_orderkey, l_linenumber, l_quantity FROM read_parquet('{src}') "
        f"WHERE l_orderkey BETWEEN {mid_lo} AND {mid_hi} "
        f"ORDER BY l_orderkey, l_linenumber, l_quantity"
    ).fetchall()
    assert len(truth) > 0  # interior slice is nonvacuous
    got_duck = con.execute(
        f"SELECT l_orderkey, l_linenumber, l_quantity FROM read_parquet('{tiny}') "
        f"WHERE l_orderkey BETWEEN {mid_lo} AND {mid_hi} "
        f"ORDER BY l_orderkey, l_linenumber, l_quantity"
    ).fetchall()
    assert got_duck == truth
    got_spark = [
        tuple(r)
        for r in spark.read.parquet(tiny)
        .filter(F.col("l_orderkey").between(mid_lo, mid_hi))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        .collect()
    ]
    assert got_spark == [tuple(r) for r in truth]
    # and the file genuinely has page indexes to skip with
    pf = pq.ParquetFile(tiny)
    assert pf.metadata.row_group(0).column(0).statistics is not None


def test_unsigned_int_logical_types_cross_engine(spark, tmp_path):
    """Arrow-native writers emit UINT_8/16/32/64 logical types that
    have no signed-engine native home. Pinned mapping (probed
    2026-08): Spark WIDENS each to the next signed type (u8->short,
    u16->int, u32->long) and u64 -> DECIMAL(20,0); DuckDB keeps native
    unsigned columns. Values exact in both, including the u64
    maximum, which corrupts to -1 under any reinterpret-as-signed
    shortcut."""
    u64max = 18446744073709551615
    f = str(tmp_path / "uints.parquet")
    pq.write_table(
        pa.table(
            {
                "u8": pa.array([0, 255], pa.uint8()),
                "u16": pa.array([0, 65535], pa.uint16()),
                "u32": pa.array([0, 4294967295], pa.uint32()),
                "u64": pa.array([0, u64max], pa.uint64()),
            }
        ),
        f,
    )
    df = spark.read.parquet(f)
    got_types = {fl.name: str(fl.dataType) for fl in df.schema.fields}
    assert got_types == {
        "u8": "ShortType()",
        "u16": "IntegerType()",
        "u32": "LongType()",
        "u64": "DecimalType(20,0)",
    }, got_types
    hi = df.orderBy("u8").collect()[1]
    assert (hi.u8, hi.u16, hi.u32, int(hi.u64)) == (
        255,
        65535,
        4294967295,
        u64max,
    ), hi
    con = duckdb.connect()
    assert con.execute(
        f"SELECT u8, u16, u32, u64 FROM read_parquet('{f}') ORDER BY u8"
    ).fetchall() == [(0, 0, 0, 0), (255, 65535, 4294967295, u64max)]


def test_nanosecond_timestamp_boundary(spark, tmp_path):
    """TIMESTAMP(NANOS) parquet (pyarrow timestamp[ns] — arrow-native
    feeds emit it by default) is a cross-engine BOUNDARY, probed
    2026-08 and pinned both ways:
    1. Spark 4.1.2 REFUSES it loudly (PARQUET_TYPE_ILLEGAL) — never a
       silent truncation — and the documented lossless escape is
       spark.sql.legacy.parquet.nanosAsLong=true, which surfaces the
       raw epoch-nanos as LongType exactly.
    2. DuckDB maps it to its microsecond TIMESTAMP and SILENTLY drops
       the sub-microsecond digits (epoch_ns(...789012345) comes back
       ...789012000) — so DuckDB cannot oracle ns-precision columns,
       and a lake keeping ns precision must carry it as INT64.
    If a Spark upgrade adds native ns reads, assertion (1) flips —
    RELAX to a precision-parity pin then."""
    import pytest

    ns_vals = [1709295296789012345, -1001]
    f = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.table({"k": [1, 2], "ts": pa.array(ns_vals, pa.timestamp("ns"))}),
        f,
    )
    # The conf is pinned EXPLICITLY both ways rather than assumed: this
    # engine's own tables.load("events") sets nanosAsLong=true
    # session-wide (events.ts is ns-typed in the fixtures; pkg:tables.py
    # converts the raw longs to micros), so "Spark's default" is not a
    # stable premise inside a shared session — an earlier suite test
    # loading events flips it (caught by the full-suite run).
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    try:
        # (1a) loud refusal when the escape hatch is off (stock Spark)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(f).collect()
        # (1b) lossless nanosAsLong escape
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        got = {
            r.k: r.ts for r in spark.read.parquet(f).orderBy("k").collect()
        }
        assert got == {1: ns_vals[0], 2: ns_vals[1]}, got
        assert (
            str(spark.read.parquet(f).schema["ts"].dataType) == "LongType()"
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    # (2) DuckDB: silent truncation to microseconds
    con = duckdb.connect()
    got_duck = con.execute(
        f"SELECT k, CAST(epoch_ns(ts) AS VARCHAR) FROM read_parquet('{f}') "
        f"ORDER BY k"
    ).fetchall()
    assert got_duck == [(1, "1709295296789012000"), (2, "-1000")], got_duck


def test_string_binary_edge_values_cross_engine(spark, tmp_path):
    """String/binary edge values through dictionary-encoded pages:
    empty string vs NULL (def-levels, not sentinel values), an
    embedded NUL byte inside a string, 4-byte unicode, the empty
    binary vs NULL binary, and non-UTF8 bytes in a BINARY column.
    Exact in both engines — a reader that C-string-terminates or
    UTF8-validates binary corrupts each of these differently."""
    f = str(tmp_path / "stredge.parquet")
    pq.write_table(
        pa.table(
            {
                "k": [0, 1, 2, 3],
                "s": pa.array(["", None, "a\x00b", "日本語🎌"], pa.string()),
                "b": pa.array([b"", None, b"\x00\xff\xfe", b"ok"], pa.binary()),
            }
        ),
        f,
    )
    want = [
        (0, "", ""),
        (1, None, None),
        (2, "a\x00b", "00fffe"),
        (3, "日本語🎌", "6f6b"),
    ]
    got_spark = [
        (r.k, r.s, r.b.hex() if r.b is not None else None)
        for r in spark.read.parquet(f).orderBy("k").collect()
    ]
    assert got_spark == want, got_spark
    con = duckdb.connect()
    got_duck = [
        (k, s, b.hex() if b is not None else None)
        for k, s, b in con.execute(
            f"SELECT k, s, b FROM read_parquet('{f}') ORDER BY k"
        ).fetchall()
    ]
    assert got_duck == want, got_duck


def test_cross_file_column_order_by_name(spark, tmp_path):
    """Files in one directory with the SAME columns in DIFFERENT
    physical order (a writer refactor reorders its projection — no
    schema change, just layout). Both engines must resolve columns by
    NAME, not ordinal: a positional reader would swap b/c values on
    the reordered file. Pinned exact, with types that would corrupt
    loudly-or-silently in different ways if swapped (long vs string
    vs double)."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"a": [1], "b": ["x"], "c": [1.5]}), str(d / "f1.parquet")
    )
    pq.write_table(
        pa.table({"c": [2.5], "a": [2], "b": ["y"]}), str(d / "f2.parquet")
    )
    want = [(1, "x", 1.5), (2, "y", 2.5)]
    got_spark = sorted(
        (r.a, r.b, r.c) for r in spark.read.parquet(str(d)).collect()
    )
    assert got_spark == want, got_spark
    con = duckdb.connect()
    got_duck = con.execute(
        f"SELECT a, b, c FROM read_parquet('{d}/*.parquet') ORDER BY a"
    ).fetchall()
    assert got_duck == want, got_duck
    # SELECT * must also land name-aligned, not position-aligned
    got_star = con.execute(
        f"SELECT * FROM read_parquet('{d}/*.parquet') ORDER BY a"
    ).fetchall()
    assert got_star == want, got_star


def test_bitrot_detection_boundary(spark, tmp_path):
    """Bitrot (storage-level byte corruption) detection, probed 2026-08
    and pinned as a three-way boundary:
    1. UNCOMPRESSED pages: page CRCs are WRITTEN (write_page_checksum)
       but NEITHER engine verifies them by default — a flipped byte in
       a PLAIN double page comes back as a silently different value in
       BOTH Spark and DuckDB (identical wrong bytes, identical wrong
       sum). This is the dangerous layout: nothing structural catches
       the flip.
    2. The parquet-mr kill switch parquet.page.verify-checksum.enabled
       =true turns the same read into a loud FAILED_READ_FILE for
       Spark. (DuckDB has no equivalent; its read stays silently
       wrong.)
    3. COMPRESSION IS NOT AN INTEGRITY MECHANISM (the common
       misconception this pin exists to kill): a flip deep in snappy
       LITERAL content decodes fine and returns the SAME silently
       wrong sum in both engines; only a flip that happens to land in
       snappy FRAMING (length preamble / tag bytes) fails
       decompression loudly. Whether bitrot is detected depends on
       WHICH byte rots.
    Operational consequence at 100 TB: parquet-level integrity
    requires the verify flag (Spark-side) or storage-level checksums
    (object-store ETags, ZFS) — compressed codecs only catch the
    subset of flips that corrupt framing."""
    import pytest

    from pyspark.sql import functions as F

    rows = 1000
    truth = float(sum(range(rows)))
    t = pa.table(
        {"k": list(range(rows)), "v": [float(i) for i in range(rows)]}
    )

    def corrupt(src: str, dst: str) -> None:
        md = pq.ParquetFile(src).metadata.row_group(0).column(1)
        pos = md.data_page_offset + 200  # inside the v data page values
        data = bytearray(open(src, "rb").read())
        assert pos < len(data) - 8  # never the footer
        data[pos] ^= 0xFF
        open(dst, "wb").write(bytes(data))

    # --- (1) + (2): uncompressed, CRCs written ---
    src_u = str(tmp_path / "plain.parquet")
    bad_u = str(tmp_path / "plain_bad.parquet")
    pq.write_table(
        t, src_u, compression=None, use_dictionary=False,
        write_page_checksum=True,
    )
    corrupt(src_u, bad_u)
    con = duckdb.connect()
    got_duck = con.execute(
        f"SELECT SUM(v) FROM read_parquet('{bad_u}')"
    ).fetchone()[0]
    got_spark = spark.read.parquet(bad_u).agg(F.sum("v")).first()[0]
    assert got_duck != truth  # silent corruption, DuckDB
    assert got_spark != truth  # silent corruption, Spark default
    assert got_duck == got_spark  # same wrong bytes, same wrong value
    # the verify flag turns it loud (Spark/parquet-mr only)
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hc.get("parquet.page.verify-checksum.enabled")
    hc.set("parquet.page.verify-checksum.enabled", "true")
    try:
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            spark.read.parquet(bad_u).agg(F.sum("v")).collect()
    finally:
        if prev is None:
            hc.unset("parquet.page.verify-checksum.enabled")
        else:
            hc.set("parquet.page.verify-checksum.enabled", prev)

    # --- (3): snappy, no CRCs — detection depends on WHICH byte rots
    src_s = str(tmp_path / "snappy.parquet")
    pq.write_table(
        t, src_s, compression="snappy", use_dictionary=False,
        write_page_checksum=False,
    )
    # (3a) literal-content flip: valid snappy stream, silently wrong
    # identical values in both engines
    bad_content = str(tmp_path / "snappy_content.parquet")
    corrupt(src_s, bad_content)
    got_duck_s = con.execute(
        f"SELECT SUM(v) FROM read_parquet('{bad_content}')"
    ).fetchone()[0]
    got_spark_s = spark.read.parquet(bad_content).agg(F.sum("v")).first()[0]
    assert got_duck_s != truth and got_spark_s == got_duck_s
    # (3b) framing flip: loud decompression failure in BOTH engines.
    # Which byte offsets land in snappy framing (length varint / copy
    # tags) vs literal content is data- and writer-layout-dependent (a
    # pyarrow/snappy bump can shift it — r14 advisor), so instead of
    # assuming the file midpoint, SEARCH outward from it for an offset
    # whose flip DuckDB rejects as a snappy/decompress error. The
    # search establishes "this flip corrupts framing"; the assertion
    # that matters — the cross-engine contract — is that the SAME
    # corrupted file is loud in Spark too, which stays independent.
    bad_frame = str(tmp_path / "snappy_frame.parquet")
    data = bytearray(open(src_s, "rb").read())
    frame_off = None
    for delta in range(0, 256):
        off = len(data) // 2 + delta
        if off >= len(data):
            break
        trial = bytearray(data)
        trial[off] ^= 0xFF
        open(bad_frame, "wb").write(bytes(trial))
        try:
            con.execute(
                f"SELECT SUM(v) FROM read_parquet('{bad_frame}')"
            ).fetchone()
        except duckdb.Error as e:
            if re.search(r"[Ss]nappy|decompress", str(e)):
                frame_off = off
                break
    assert frame_off is not None, (
        "no framing byte within 256 of the midpoint — layout shifted "
        "far more than a codec bump should; re-derive the fixture"
    )
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        spark.read.parquet(bad_frame).agg(F.sum("v")).collect()


def test_zero_row_file_in_directory_scan(spark, tmp_path):
    """A 0-row parquet file inside a multi-file directory (an
    incremental job flushing an empty batch writes these constantly):
    both engines must scan past it — a reader choking on an empty
    row-group list kills the whole table for one empty flush."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(d / "a.parquet"))
    pq.write_table(
        pa.table({"k": pa.array([], pa.int64())}), str(d / "empty.parquet")
    )
    assert spark.read.parquet(str(d)).count() == 2
    con = duckdb.connect()
    assert con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{d}/*.parquet')"
    ).fetchone() == (2,)


def test_depth8_struct_roundtrip(spark, tmp_path):
    """Struct nesting depth 8 (well past the N6 exhibit's 3): the
    definition-level chain and both engines' recursive schema
    converters at a depth real document lakes reach with enveloped
    JSON. Leaf access exact in both engines."""
    typ, val = pa.float64(), 1.5
    for i in range(8):
        typ = pa.struct([pa.field(f"f{i}", typ)])
        val = {f"f{i}": val}
    f = str(tmp_path / "deep8.parquet")
    pq.write_table(pa.table({"k": [1], "s": pa.array([val], typ)}), f)
    leaf = ".".join(f"f{i}" for i in reversed(range(8)))
    assert (
        spark.read.parquet(f).selectExpr(f"s.{leaf} AS leaf").first()[0]
        == 1.5
    )
    con = duckdb.connect()
    assert con.execute(
        f"SELECT s.{leaf} FROM read_parquet('{f}')"
    ).fetchone() == (1.5,)


def test_hostile_column_names_cross_engine(spark, tmp_path):
    """Column names with a dot, a space, non-ASCII, and a double quote
    (arrow-native writers impose no identifier rules): both engines
    must read them — Spark via backtick quoting (the dot would
    otherwise parse as a struct path), DuckDB via doubled double
    quotes. Values exact."""
    f = str(tmp_path / "names.parquet")
    pq.write_table(
        pa.table(
            {"a.b": [1], "with space": [2], "日本": [3], 'qu"ote': [4]}
        ),
        f,
    )
    df = spark.read.parquet(f)
    assert [fl.name for fl in df.schema.fields] == [
        "a.b",
        "with space",
        "日本",
        'qu"ote',
    ]
    r = df.selectExpr("`a.b`", "`with space`", "`日本`").first()
    assert tuple(r) == (1, 2, 3)
    con = duckdb.connect()
    assert con.execute(
        'SELECT "a.b", "with space", "日本", "qu""ote" '
        f"FROM read_parquet('{f}')"
    ).fetchone() == (1, 2, 3, 4)


def test_truncated_statistics_pruning_stays_exact(spark, tmp_path):
    """Row-group stats TRUNCATION on long strings
    (parquet.statistics.truncate.length=64): a lake with long URL/hash
    keys truncates footer min/max to keep metadata small, and the
    writer must BINARY-INCREMENT the truncated max (probed: the cut
    byte bumps x->y) or it stops being an upper bound and stats
    pruning silently drops matching row groups. Keys share an 80-char
    prefix — longer than the truncation — so every row group's
    truncated [min,max] is prefix-identical and any pruning decision
    rides entirely on the increment contract. Point and range lookups
    must stay exact in BOTH engines (DuckDB zone-maps use the same
    truncated stats)."""
    from pyspark.sql import functions as F

    pref = "x" * 80
    rows = [(i, pref + f"{i:06d}" + "z" * 40) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, k string")
    path = str(tmp_path / "trunc.parquet")
    (
        df.repartition(1)
        .sortWithinPartitions("k")
        .write.mode("overwrite")
        .option("parquet.block.size", str(16 * 1024))
        .option("parquet.statistics.truncate.length", "64")
        .parquet(path)
    )
    f = glob.glob(os.path.join(path, "part-*.parquet"))[0]
    con = duckdb.connect()
    st = con.execute(
        f"SELECT stats_min_value, stats_max_value FROM parquet_metadata('{f}') "
        f"WHERE path_in_schema = 'k'"
    ).fetchall()
    assert len(st) >= 2, "fixture must span several row groups"
    assert {(len(a), len(b)) for a, b in st} == {(64, 64)}  # truncation engaged
    assert all(b[-1] == "y" for _, b in st)  # the increment, visibly
    probe = pref + "000500" + "z" * 40
    assert (
        spark.read.parquet(path).filter(F.col("k") == probe).count() == 1
    )
    assert con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{f}') WHERE k = ?", [probe]
    ).fetchone() == (1,)
    lo, hi = pref + "000100", pref + "000300"
    assert (
        spark.read.parquet(path)
        .filter((F.col("k") >= lo) & (F.col("k") < hi))
        .count()
        == 200
    )
    assert con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{f}') WHERE k >= ? AND k < ?",
        [lo, hi],
    ).fetchone() == (200,)


def test_float_special_grouping_keys_cross_engine(spark):
    """Grouping semantics for IEEE specials, pinned as CROSS-ENGINE
    AGREEMENT (probed 2026-08): both engines canonicalize -0.0 into
    the 0.0 group and collapse all NaNs into ONE group. The repo's
    oracle queries deliberately avoid float grouping keys, but the
    agreement itself is load-bearing — if either engine's treatment
    drifts in an upgrade, a future float-keyed oracle would diverge
    silently; this pin turns that into a named failure."""
    import math

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(float("nan"),), (float("nan"),), (0.0,), (-0.0,), (1.5,)],
        "v double",
    )
    got = {
        ("nan" if math.isnan(r["v"]) else r["v"]): r["n"]
        for r in df.groupBy("v").agg(F.count("*").alias("n")).collect()
    }
    assert got == {"nan": 2, 0.0: 2, 1.5: 1}
    con = duckdb.connect()
    duck = {
        ("nan" if math.isnan(v) else v): n
        for v, n in con.execute(
            "SELECT v, COUNT(*) FROM (VALUES ('nan'::DOUBLE), "
            "('nan'::DOUBLE), (0.0::DOUBLE), (-0.0::DOUBLE), "
            "(1.5::DOUBLE)) t(v) GROUP BY v"
        ).fetchall()
    }
    assert duck == got


def test_uuid_logical_type_boundary(spark, tmp_path):
    """UUID logical type (FLBA-16 + UUID annotation), as written by
    DuckDB/Postgres exports — a shape a shared lake WILL contain.
    Probed contracts: Spark 4.1.2 REFUSES the column loudly
    (PARQUET_TYPE_ILLEGAL), never silently misreads; pyarrow reads it
    as fixed_size_binary[16]; DuckDB round-trips it. Ingestion path
    for this engine: export as VARCHAR (CAST(u AS VARCHAR) in the
    producer) or decode the 16 bytes via pyarrow — pinned so a Spark
    upgrade that starts accepting UUID flips a named test and the
    workaround note gets retired."""
    import duckdb

    f = str(tmp_path / "uuid.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT uuid() AS u, range AS k FROM range(5)) "
        f"TO '{f}' (FORMAT PARQUET)"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(f).collect()
    assert str(pq.read_schema(f).field("u").type) == "fixed_size_binary[16]"
    assert con.execute(
        f"SELECT COUNT(DISTINCT u) FROM read_parquet('{f}')"
    ).fetchone() == (5,)
    # the documented ingestion path: producer-side VARCHAR export
    f2 = str(tmp_path / "uuid_str.parquet")
    con.execute(
        f"COPY (SELECT CAST(u AS VARCHAR) AS u, k FROM read_parquet('{f}')) "
        f"TO '{f2}' (FORMAT PARQUET)"
    )
    assert spark.read.parquet(f2).count() == 5


def test_float16_logical_type_boundary(spark, tmp_path):
    """FLOAT16 logical type (FLBA-2, written by pyarrow for ML
    half-precision exports): Spark 4.1.2 refuses LOUDLY
    (PARQUET_TYPE_ILLEGAL) — but DuckDB 1.0 SILENTLY returns the raw
    2-byte blobs (probed: 1.5 comes back as b'\\x00>'), the only
    silent cross-engine misread in the repo's physical-type matrix.
    Pinned so (a) a fixture generator can never slip FLOAT16 into the
    oracle's path unnoticed, and (b) a DuckDB upgrade that starts
    decoding halffloat (or erroring) flips a named test."""
    import numpy as np

    import duckdb
    import pytest as _pytest

    f = str(tmp_path / "f16.parquet")
    pq.write_table(
        pa.table(
            {"k": [1, 2, 3],
             "h": pa.array(np.array([1.5, 2.5, 3.5], dtype=np.float16))}
        ),
        f,
    )
    assert str(pq.read_schema(f).field("h").type) == "halffloat"
    with _pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(f).collect()
    got = duckdb.connect().execute(
        f"SELECT h FROM read_parquet('{f}') ORDER BY k"
    ).fetchall()
    # the silent-blob misread, frozen exactly (little-endian f16 bytes)
    assert got == [(b"\x00>",), (b"\x00A",), (b"\x00C",)], got
