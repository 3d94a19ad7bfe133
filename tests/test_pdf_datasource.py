"""S18: the Python DataSource API PDF corpus source/sink
(test_dataengineer2026_spark/sources/pdf_datasource.py).

Three layers, cheapest first: pure-Python partition planning (no Spark),
the writer's two-phase commit protocol (no Spark), then the end-to-end
register → write → read round-trip through a live session including the
task-fan-out check.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from test_dataengineer2026_spark.sources.pdf_datasource import (
    PdfCommit,
    PdfCorpusDataSource,
    PdfCorpusReader,
    PdfCorpusWriter,
)


def _touch_pdfs(d, n):
    for i in range(n):
        (d / f"{i}.pdf").write_bytes(b"%PDF-fake")


# ---------------------------------------------------------------- planning


def test_partition_planning_chunks_and_order(tmp_path):
    """10 files at filesPerPartition=3 -> partitions of 3/3/3/1, files
    sorted, every file exactly once — the driver-side plan a 10M-file
    corpus depends on."""
    _touch_pdfs(tmp_path, 10)
    r = PdfCorpusReader({"path": str(tmp_path), "filesperpartition": "3"})
    parts = r.partitions()
    assert [len(p.files) for p in parts] == [3, 3, 3, 1]
    flat = [f for p in parts for f in p.files]
    assert flat == sorted(flat)
    assert len(set(flat)) == 10


def test_partition_planning_skips_hidden_temps(tmp_path):
    """In-flight writer temps (hidden .part-* names) are invisible to a
    concurrent reader — the read half of the commit protocol."""
    _touch_pdfs(tmp_path, 2)
    (tmp_path / ".part-deadbeef-0.pdf.tmp").write_bytes(b"x")
    (tmp_path / "_SUCCESS").write_bytes(b"")
    r = PdfCorpusReader({"path": str(tmp_path)})
    flat = [f for p in r.partitions() for f in p.files]
    assert len(flat) == 2 and all(f.endswith(".pdf") for f in flat)


def test_reader_option_validation(tmp_path):
    with pytest.raises(ValueError):
        PdfCorpusReader({})
    with pytest.raises(ValueError):
        PdfCorpusReader({"path": str(tmp_path), "filesperpartition": "0"})


# ------------------------------------------------------------ commit protocol


def _fake_rows(*pairs):
    return [T.Row(doc_id=i, text=t) for i, t in pairs]


def test_two_phase_commit_promotes_only_on_commit(tmp_path):
    w = PdfCorpusWriter({"path": str(tmp_path)}, overwrite=False)
    msg = w.write(iter(_fake_rows((7, "seven"), (8, "eight"))))
    assert isinstance(msg, PdfCommit) and len(msg.renames) == 2
    # after write(): temps only, nothing visible
    assert glob.glob(os.path.join(tmp_path, "*.pdf")) == []
    assert len(glob.glob(os.path.join(tmp_path, ".part-*"))) == 2
    w.commit([msg])
    assert sorted(
        os.path.basename(f) for f in glob.glob(os.path.join(tmp_path, "*.pdf"))
    ) == ["7.pdf", "8.pdf"]
    assert glob.glob(os.path.join(tmp_path, ".part-*")) == []
    assert os.path.exists(os.path.join(tmp_path, "_SUCCESS"))


def test_abort_leaves_no_visible_file(tmp_path):
    w = PdfCorpusWriter({"path": str(tmp_path)}, overwrite=False)
    msg = w.write(iter(_fake_rows((1, "one"))))
    w.abort([msg, None])  # a failed task reports None
    assert glob.glob(os.path.join(tmp_path, "*")) == []


def test_overwrite_clears_stale_finals_in_commit_only(tmp_path):
    stale = tmp_path / "99.pdf"
    stale.write_bytes(b"%PDF-old")
    w = PdfCorpusWriter({"path": str(tmp_path)}, overwrite=True)
    msg = w.write(iter(_fake_rows((1, "one"))))
    # plan/write time never deletes: a failed overwrite keeps old data
    assert stale.exists()
    w.commit([msg])
    assert not stale.exists()
    assert (tmp_path / "1.pdf").exists()


def test_writer_schema_validation():
    ds = PdfCorpusDataSource({"path": "/tmp/x"})
    with pytest.raises(ValueError):
        ds.writer(T.StructType([T.StructField("nope", T.StringType())]), False)


# ---------------------------------------------------------------- end to end


def test_round_trip_and_fanout(spark, tmp_path):
    """write format("pdfcorpus") then read it back: values survive the
    render→extract round-trip, and the read fans out across one task per
    planned partition (spark_partition_id, JVM-side — no .rdd)."""
    spark.dataSource.register(PdfCorpusDataSource)
    docs = spark.createDataFrame(
        [(i, f"Informe tecnico numero {i} (kt) 1.234,5") for i in range(20)],
        "doc_id BIGINT, text STRING",
    )
    out = str(tmp_path / "corpus")
    docs.write.format("pdfcorpus").mode("overwrite").save(out)
    assert len(glob.glob(os.path.join(out, "*.pdf"))) == 20

    back = spark.read.format("pdfcorpus").option("filesPerPartition", "5").load(out)
    got = {(r["doc_id"], r["page"], r["text"]) for r in back.collect()}
    want = {(i, 0, f"Informe tecnico numero {i} (kt) 1.234,5") for i in range(20)}
    assert got == want
    n_tasks = back.select(F.spark_partition_id().alias("p")).distinct().count()
    assert n_tasks == 4  # 20 files / 5 per partition


# ------------------------------------------------------------- streaming


def _utouch(d, name, mtime, content=b"%PDF-fake"):
    p = d / name
    p.write_bytes(content)
    os.utime(p, (mtime, mtime))
    return str(p)


def test_stream_offsets_are_landing_watermarks(tmp_path):
    """Pure offset arithmetic, no Spark: initialOffset precedes every
    real file; latestOffset is the max (mtime, name); partitions over a
    (start, end] range hold exactly the files that landed in between,
    chunked filesPerPartition apiece; an empty advance still yields one
    empty partition."""
    from test_dataengineer2026_spark.sources.pdf_datasource import (
        PdfCorpusStreamReader,
    )

    r = PdfCorpusStreamReader({"path": str(tmp_path), "filesperpartition": "2"})
    o0 = r.initialOffset()
    assert r.latestOffset() == o0  # empty dir: nothing to advance to

    for i in range(3):
        _utouch(tmp_path, f"{i}.pdf", 1_700_000_000 + i)
    o1 = r.latestOffset()
    assert o1 == {"m": 1_700_000_002, "n": "2.pdf"}

    for i in range(3, 8):
        _utouch(tmp_path, f"{i}.pdf", 1_700_000_100 + i)
    o2 = r.latestOffset()

    batch1 = [os.path.basename(f) for p in r.partitions(o0, o1) for f in p.files]
    assert batch1 == ["0.pdf", "1.pdf", "2.pdf"]
    parts2 = r.partitions(o1, o2)
    assert [len(p.files) for p in parts2] == [2, 2, 1]
    batch2 = [os.path.basename(f) for p in parts2 for f in p.files]
    assert batch2 == [f"{i}.pdf" for i in range(3, 8)]
    # no growth -> one empty partition, never a plan error
    empty = r.partitions(o2, r.latestOffset())
    assert len(empty) == 1 and empty[0].files == []


def test_stream_incremental_pickup_across_restarts(spark, tmp_path):
    """Exactly-once across restarts through Spark's offset log: run 1
    (availableNow) consumes landing A; landing B arrives; run 2 on the
    SAME checkpoint reads ONLY B — re-reading A would double rows,
    losing the offset would drop B."""
    from test_dataengineer2026_spark.extraction.pdf import render_pdf
    from test_dataengineer2026_spark.sources.pdf_datasource import (
        PdfCorpusDataSource,
    )

    spark.dataSource.register(PdfCorpusDataSource)
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        s = spark.readStream.format("pdfcorpus").load(str(corpus))
        q = (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    for i in range(4):
        _utouch(corpus, f"{i}.pdf", 1_700_000_000 + i, render_pdf(f"doc {i}"))
    run_once()
    assert spark.read.parquet(sink).count() == 4

    for i in range(4, 6):
        _utouch(corpus, f"{i}.pdf", 1_700_000_100 + i, render_pdf(f"doc {i}"))
    run_once()
    back = spark.read.parquet(sink)
    assert back.count() == 6  # exactly once: 4 + 2, no replays, no drops
    assert {r["text"] for r in back.collect()} == {f"doc {i}" for i in range(6)}


def test_stream_writer_commits_per_batch(spark, tmp_path):
    """DataSourceStreamWriter: each micro-batch's PDFs appear atomically
    with a per-batch success marker; hidden temps never survive."""
    from test_dataengineer2026_spark.sources.pdf_datasource import (
        PdfCorpusDataSource,
    )

    spark.dataSource.register(PdfCorpusDataSource)
    feed = tmp_path / "feed"
    feed.mkdir()
    out = tmp_path / "out"
    out.mkdir()

    def land(i):
        df = spark.createDataFrame(
            [(i * 10 + j, f"texto {i}-{j}") for j in range(3)],
            "doc_id long, text string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"t{i}"))
        part = next(
            f for f in os.listdir(tmp_path / f"t{i}") if f.endswith(".parquet")
        )
        os.rename(tmp_path / f"t{i}" / part, feed / f"{i:02d}.parquet")
        os.utime(feed / f"{i:02d}.parquet", (1_700_000_000 + i,) * 2)

    land(0)
    land(1)
    sch = "doc_id long, text string"
    s = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(feed))
    )
    q = (
        s.writeStream.format("pdfcorpus")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    assert len(glob.glob(os.path.join(out, "*.pdf"))) == 6
    markers = sorted(
        os.path.basename(f) for f in glob.glob(os.path.join(out, "_batch_*"))
    )
    assert markers == ["_batch_0_SUCCESS", "_batch_1_SUCCESS"]
    assert glob.glob(os.path.join(out, ".part-*")) == []
    # round-trip: the batch reader sees exactly the streamed corpus
    back = spark.read.format("pdfcorpus").load(str(out))
    assert back.count() == 6


def test_arrow_read_path_equals_tuple_path(spark, tmp_path):
    """arrow=true returns one RecordBatch per task (vectorized transfer)
    and must be row-identical to the default tuple path — same corpus,
    same schema, same values, including an empty partition's zero-row
    batch."""
    from test_dataengineer2026_spark.extraction.pdf import render_pdf
    from test_dataengineer2026_spark.sources.pdf_datasource import (
        PdfCorpusDataSource,
        PdfCorpusReader,
        PdfFilesPartition,
    )

    spark.dataSource.register(PdfCorpusDataSource)
    out = tmp_path / "corpus"
    out.mkdir()
    for i in range(12):
        (out / f"{i}.pdf").write_bytes(render_pdf(f"pagina {i}"))

    def rows(arrow):
        df = (
            spark.read.format("pdfcorpus")
            .option("filesPerPartition", "5")
            .option("arrow", arrow)
            .load(str(out))
        )
        assert df.schema.simpleString() == "struct<doc_id:bigint,page:int,text:string>"
        return sorted((r["doc_id"], r["page"], r["text"]) for r in df.collect())

    assert rows("true") == rows("false") and len(rows("true")) == 12

    # zero-row partition yields a schema-correct empty batch, not a crash
    r = PdfCorpusReader({"path": str(out), "arrow": "true"})
    batches = list(r.read(PdfFilesPartition([])))
    assert len(batches) == 1 and batches[0].num_rows == 0
    assert batches[0].schema.names == ["doc_id", "page", "text"]


# ------------------------------------------------------------- pushdown


def test_pushdown_prunes_files_by_doc_id(tmp_path):
    """pushFilters (Spark 4.1): doc_id EqualTo/In predicates prune the
    file list at plan time — AND semantics intersect probes; everything
    else is yielded back for Spark to evaluate post-scan."""
    from pyspark.sql.datasource import EqualTo, In, StringContains

    _touch_pdfs(tmp_path, 10)
    r = PdfCorpusReader({"path": str(tmp_path)})
    text_f = StringContains(("text",), "kt")
    leftover = list(
        r.pushFilters([EqualTo(("doc_id",), 7), In(("doc_id",), (5, 7, 9)), text_f])
    )
    assert leftover == [text_f]  # same object, yielded back by reference
    flat = [os.path.basename(f) for p in r.partitions() for f in p.files]
    assert flat == ["7.pdf"]  # {7} ∩ {5,7,9}

    # contradictory probes prune everything — zero partitions, no error
    r2 = PdfCorpusReader({"path": str(tmp_path)})
    list(r2.pushFilters([EqualTo(("doc_id",), 1), EqualTo(("doc_id",), 2)]))
    assert [f for p in r2.partitions() for f in p.files] == []

    # an EqualTo on another column is NOT handled
    r3 = PdfCorpusReader({"path": str(tmp_path)})
    other = EqualTo(("page",), 0)
    assert list(r3.pushFilters([other])) == [other]
    assert len([f for p in r3.partitions() for f in p.files]) == 10


def test_pushdown_equality_int_parses_zero_padded_stems(tmp_path):
    """r17 advisor: a zero-padded stem (007.pdf emits doc_id 7 via
    _extract's int()) must be KEPT by a consumed `doc_id = 7` probe —
    string-matching str(7) against "007" silently lost the rows, and
    since the filter was consumed Spark never re-applied it. Equality/IN
    and range pruning now share one int-parsing rule (_stem_id)."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    (tmp_path / "007.pdf").write_bytes(b"%PDF-fake")
    (tmp_path / "8.pdf").write_bytes(b"%PDF-fake")
    (tmp_path / "notanint.pdf").write_bytes(b"%PDF-fake")

    r = PdfCorpusReader({"path": str(tmp_path)})
    list(r.pushFilters([EqualTo(("doc_id",), 7)]))
    flat = [os.path.basename(f) for p in r.partitions() for f in p.files]
    assert flat == ["007.pdf"]

    # the two pruning paths agree: range >= 7 keeps the same file
    r2 = PdfCorpusReader({"path": str(tmp_path)})
    list(r2.pushFilters([GreaterThanOrEqual(("doc_id",), 7)]))
    flat2 = [os.path.basename(f) for p in r2.partitions() for f in p.files]
    assert flat2 == ["007.pdf", "8.pdf"]


def test_pushdown_engages_end_to_end(spark, tmp_path):
    """Behavioral proof the pruning really runs inside a query: the
    corpus contains a file whose stem is not an integer — any reader
    task that OPENS it dies on int(). A doc_id-filtered query succeeds
    (the poison file is pruned at plan time) and returns exactly the
    probed rows; an unfiltered query over the same corpus fails."""
    from test_dataengineer2026_spark.extraction.pdf import render_pdf

    spark.dataSource.register(PdfCorpusDataSource)
    out = tmp_path / "corpus"
    out.mkdir()
    for i in range(6):
        (out / f"{i}.pdf").write_bytes(render_pdf(f"pagina {i}"))
    (out / "poison.pdf").write_bytes(b"%PDF-garbage")

    def fresh():
        return spark.read.format("pdfcorpus").load(str(out))

    got = fresh().filter("doc_id IN (2, 4)").collect()
    assert sorted((r["doc_id"], r["text"]) for r in got) == [
        (2, "pagina 2"),
        (4, "pagina 4"),
    ]
    with pytest.raises(Exception):
        fresh().collect()  # no pushdown -> the poison file is opened


def test_pushdown_scan_is_cached_per_load_handle(spark, tmp_path):
    """ENGINE BOUNDARY pin (Spark 4.1 Python DataSource): the scan of a
    ``load()`` DataFrame is planned ONCE and reused by every later
    action on that handle — pushFilters/partitions never re-run. So a
    PUSHED query followed by a WEAKER query on the same handle silently
    keeps the pruned file set, while the reverse order stays correct
    (an unpushed cached scan + Spark's post-scan Filter). The safe
    idiom — a fresh load() per query — is what every query in this repo
    uses. If a Spark upgrade starts re-planning per action, the first
    assertion below flips and this pin tells us the workaround can go."""
    from test_dataengineer2026_spark.extraction.pdf import render_pdf

    spark.dataSource.register(PdfCorpusDataSource)
    out = tmp_path / "corpus"
    out.mkdir()
    for i in range(5):
        (out / f"{i}.pdf").write_bytes(render_pdf(f"pagina {i}"))

    # pushed-first handle: the later, weaker query reuses the pruned scan
    d1 = spark.read.format("pdfcorpus").load(str(out))
    assert [r["doc_id"] for r in d1.filter("doc_id = 3").collect()] == [3]
    assert sorted(r["doc_id"] for r in d1.collect()) == [3]  # the boundary

    # widest-first handle: every later filter stays correct (post-scan)
    d2 = spark.read.format("pdfcorpus").load(str(out))
    assert sorted(r["doc_id"] for r in d2.collect()) == [0, 1, 2, 3, 4]
    assert [r["doc_id"] for r in d2.filter("doc_id = 1").collect()] == [1]

    # fresh handle per query: always correct
    d3 = spark.read.format("pdfcorpus").load(str(out))
    assert sorted(r["doc_id"] for r in d3.collect()) == [0, 1, 2, 3, 4]


def test_arrow_writer_parity_and_protocol(spark, tmp_path):
    """arrow=true on the WRITE side selects the DataSourceArrowWriter
    subclass (tasks receive RecordBatches, no per-row pickling): the
    produced corpus must be byte-identical in content to the row
    writer's, and the two-phase commit protocol still holds (_SUCCESS
    marker, no leftover temps)."""
    from test_dataengineer2026_spark.sources.pdf_datasource import (
        PdfCorpusArrowWriter,
        PdfCorpusDataSource,
    )

    spark.dataSource.register(PdfCorpusDataSource)
    docs = spark.createDataFrame(
        [(i, f"documento arrow {i}") for i in range(8)],
        "doc_id BIGINT, text STRING",
    )
    row_out, arrow_out = str(tmp_path / "rows"), str(tmp_path / "arrow")
    docs.write.format("pdfcorpus").mode("overwrite").save(row_out)
    (
        docs.write.format("pdfcorpus")
        .option("arrow", "true")
        .mode("overwrite")
        .save(arrow_out)
    )

    def corpus(d):
        return {
            os.path.basename(f): open(f, "rb").read()
            for f in glob.glob(os.path.join(d, "*.pdf"))
        }

    assert corpus(arrow_out) == corpus(row_out) and len(corpus(arrow_out)) == 8
    assert os.path.exists(os.path.join(arrow_out, "_SUCCESS"))
    assert glob.glob(os.path.join(arrow_out, ".part-*")) == []

    # the option really selects the Arrow subclass (protocol pin)
    ds = PdfCorpusDataSource({"path": arrow_out, "arrow": "true"})
    w = ds.writer(docs.schema, overwrite=True)
    assert isinstance(w, PdfCorpusArrowWriter)


def test_stream_arrow_writer_parity(spark, tmp_path):
    """arrow=true on the STREAMING sink selects the
    DataSourceStreamArrowWriter subclass; the streamed corpus equals the
    row-tier stream sink's output and keeps the per-batch markers."""
    from test_dataengineer2026_spark.sources.pdf_datasource import (
        PdfCorpusDataSource,
        PdfCorpusStreamArrowWriter,
    )

    spark.dataSource.register(PdfCorpusDataSource)
    feed = tmp_path / "feed"
    feed.mkdir()
    spark.createDataFrame(
        [(i, f"stream arrow {i}") for i in range(5)], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(feed))

    outs = {}
    for tier in ("false", "true"):
        out = tmp_path / f"out_{tier}"
        out.mkdir()
        s = spark.readStream.schema("doc_id long, text string").parquet(str(feed))
        q = (
            s.writeStream.format("pdfcorpus")
            .option("path", str(out))
            .option("arrow", tier)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tier}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        outs[tier] = {
            os.path.basename(f): open(f, "rb").read()
            for f in glob.glob(os.path.join(out, "*.pdf"))
        }
        assert os.path.exists(os.path.join(out, "_batch_0_SUCCESS"))
    assert outs["true"] == outs["false"] and len(outs["true"]) == 5

    ds = PdfCorpusDataSource({"path": str(tmp_path), "arrow": "true"})
    from pyspark.sql import types as TT

    sch = TT.StructType(
        [TT.StructField("doc_id", TT.LongType()), TT.StructField("text", TT.StringType())]
    )
    assert isinstance(ds.streamWriter(sch, False), PdfCorpusStreamArrowWriter)


# ------------------------------------------------- r16 advisor regression pins


def test_empty_plan_yields_zero_rows_not_crash(tmp_path):
    """r16 advisor (high): partitions() returning [] makes pyspark's
    plan_data_source_read substitute [None] and call read(None) — a
    query that should return 0 rows crashed instead. The batch reader
    must plan ONE empty partition for an empty corpus or an
    all-pruning pushed filter, and read() must tolerate both an empty
    partition and a literal None, on both transfer tiers."""
    from pyspark.sql.datasource import EqualTo

    from test_dataengineer2026_spark.sources.pdf_datasource import (
        PdfFilesPartition,
    )

    r = PdfCorpusReader({"path": str(tmp_path)})
    parts = r.partitions()  # empty dir
    assert len(parts) == 1 and parts[0].files == []

    _touch_pdfs(tmp_path, 3)
    r2 = PdfCorpusReader({"path": str(tmp_path)})
    leftover = list(r2.pushFilters([EqualTo(("doc_id",), 999)]))
    assert leftover == []  # handled: the probe prunes files
    parts2 = r2.partitions()
    assert len(parts2) == 1 and parts2[0].files == []

    for tier in ("false", "true"):
        rt = PdfCorpusReader({"path": str(tmp_path), "arrow": tier})
        rows_none = list(rt.read(None))
        rows_empty = list(rt.read(PdfFilesPartition([])))
        if tier == "false":
            assert rows_none == [] and rows_empty == []
        else:  # arrow tier: one zero-row schema-correct batch each
            assert all(b.num_rows == 0 for b in rows_none + rows_empty)


def test_filter_to_nonexistent_doc_id_e2e(spark, tmp_path):
    """End-to-end form of the empty-plan pin: WHERE doc_id = <absent>
    returns an empty DataFrame through a live session, not a job
    failure."""
    from test_dataengineer2026_spark.extraction.pdf import render_pdf

    spark.dataSource.register(PdfCorpusDataSource)
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    for i in range(3):
        (corpus / f"{i}.pdf").write_bytes(render_pdf(f"doc {i}"))
    df = (
        spark.read.format("pdfcorpus")
        .load(str(corpus))
        .filter(F.col("doc_id") == 999)
    )
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<doc_id:bigint,page:int,text:string>"


def test_overwrite_commit_promotes_before_delete(tmp_path, monkeypatch):
    """r16 advisor: overwrite commit() must promote ALL temps before
    deleting any stale final — a crash between the phases then leaves a
    superset (old + new, no _SUCCESS), never missing data. Pin the call
    order by recording every os.replace/os.remove the commit makes."""
    import test_dataengineer2026_spark.sources.pdf_datasource as mod

    stale = tmp_path / "99.pdf"
    stale.write_bytes(b"%PDF-old")
    w = PdfCorpusWriter({"path": str(tmp_path)}, overwrite=True)
    msg = w.write(iter(_fake_rows((1, "one"), (2, "two"))))

    events = []
    real_replace, real_remove = os.replace, os.remove
    monkeypatch.setattr(
        mod.os, "replace",
        lambda a, b: (events.append("promote"), real_replace(a, b)) and None,
    )
    monkeypatch.setattr(
        mod.os, "remove",
        lambda p: (events.append("delete"), real_remove(p)) and None,
    )
    w.commit([msg])
    assert events == ["promote", "promote", "delete"]
    assert not stale.exists()
    assert (tmp_path / "1.pdf").exists() and (tmp_path / "2.pdf").exists()


def test_stream_reader_forwards_arrow_option(spark, tmp_path):
    """r16 advisor: .option("arrow", "true") on readStream was a silent
    no-op (the stream reader rebuilt the inner batch reader without it).
    Unit half: the stream reader's read() yields RecordBatches when the
    option is set. E2E half: a streamed arrow=true pass lands the same
    rows as the batch reader — the stream-read-Arrow cell of the 2x2x2
    matrix, for real."""
    import pyarrow as pa

    from test_dataengineer2026_spark.extraction.pdf import render_pdf
    from test_dataengineer2026_spark.sources.pdf_datasource import (
        PdfCorpusStreamReader,
        PdfFilesPartition,
    )

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    for i in range(4):
        p = corpus / f"{i}.pdf"
        p.write_bytes(render_pdf(f"doc {i}"))
        os.utime(p, (1_700_000_000 + i,) * 2)

    sr = PdfCorpusStreamReader({"path": str(corpus), "arrow": "true"})
    part = PdfFilesPartition([str(corpus / "0.pdf")])
    batches = list(sr.read(part))
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    assert sum(b.num_rows for b in batches) >= 1
    # default stays the tuple tier
    sr_row = PdfCorpusStreamReader({"path": str(corpus)})
    rows = list(sr_row.read(part))
    assert rows and not isinstance(rows[0], pa.RecordBatch)

    spark.dataSource.register(PdfCorpusDataSource)
    sink = str(tmp_path / "sink")
    q = (
        spark.readStream.format("pdfcorpus")
        .option("arrow", "true")
        .load(str(corpus))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    streamed = sorted(
        (r["doc_id"], r["page"], r["text"])
        for r in spark.read.parquet(sink).collect()
    )
    batch = sorted(
        (r["doc_id"], r["page"], r["text"])
        for r in spark.read.format("pdfcorpus").load(str(corpus)).collect()
    )
    assert streamed == batch and len(streamed) == 4


def test_pushdown_range_predicates_prune_files(tmp_path):
    """r17: doc_id RANGE predicates (>, >=, <, <=) are handled —
    pushFilters yields nothing back, exclusive bounds normalize to
    inclusive integer bounds, AND-composition intersects with the
    equality/IN probe, and a non-int comparand is yielded back
    unhandled."""
    from pyspark.sql.datasource import (
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
        StringStartsWith,
    )

    _touch_pdfs(tmp_path, 10)

    def stems(reader):
        return [
            int(os.path.splitext(os.path.basename(f))[0])
            for p in reader.partitions()
            for f in p.files
        ]

    r = PdfCorpusReader({"path": str(tmp_path)})
    left = list(r.pushFilters([GreaterThan(("doc_id",), 3), LessThanOrEqual(("doc_id",), 7)]))
    assert left == []  # both handled
    assert stems(r) == [4, 5, 6, 7]  # > is exclusive, <= inclusive

    r2 = PdfCorpusReader({"path": str(tmp_path)})
    assert list(r2.pushFilters([GreaterThanOrEqual(("doc_id",), 8), LessThan(("doc_id",), 10)])) == []
    assert stems(r2) == [8, 9]

    # AND with an IN probe: intersection of probe and range
    r3 = PdfCorpusReader({"path": str(tmp_path)})
    assert list(r3.pushFilters([In(("doc_id",), (1, 5, 9)), GreaterThan(("doc_id",), 4)])) == []
    assert stems(r3) == [5, 9]

    # contradictory range: zero files, still one (empty) partition
    r4 = PdfCorpusReader({"path": str(tmp_path)})
    assert list(r4.pushFilters([GreaterThan(("doc_id",), 8), LessThan(("doc_id",), 3)])) == []
    parts = r4.partitions()
    assert len(parts) == 1 and parts[0].files == []

    # non-int comparand or non-doc_id attribute: yielded back, no pruning
    r5 = PdfCorpusReader({"path": str(tmp_path)})
    back = list(r5.pushFilters([GreaterThan(("doc_id",), 3.5), StringStartsWith(("text",), "a")]))
    assert len(back) == 2
    assert len(stems(r5)) == 10


def test_pushdown_range_engages_end_to_end(spark, tmp_path):
    """A live range query reads only the in-range files and returns
    exactly the in-range rows (values correct, pruning real: the plan
    fans out over the pruned file count, not the corpus size)."""
    from test_dataengineer2026_spark.extraction.pdf import render_pdf

    spark.dataSource.register(PdfCorpusDataSource)
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    for i in range(10):
        (corpus / f"{i}.pdf").write_bytes(render_pdf(f"doc {i}"))

    df = (
        spark.read.format("pdfcorpus")
        .option("filesPerPartition", "1")
        .load(str(corpus))
        .filter((F.col("doc_id") > 3) & (F.col("doc_id") <= 7))
    )
    assert sorted(r["doc_id"] for r in df.collect()) == [4, 5, 6, 7]
    # task fan-out equals the PRUNED plan: 4 files at 1 file/partition
    ids = (
        spark.read.format("pdfcorpus")
        .option("filesPerPartition", "1")
        .load(str(corpus))
        .filter((F.col("doc_id") > 3) & (F.col("doc_id") <= 7))
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert ids == 4


def test_stream_partitions_exclude_post_offset_landings(tmp_path):
    """S19 offset-range pruning pin (r17): partitions(start, end) must
    chunk exactly the files inside the committed (start, end] watermark
    range even when NEW files land between latestOffset and planning —
    the stream-side analogue of batch filter pruning (replayed batches
    must also stay pure functions of their offset range)."""
    from test_dataengineer2026_spark.sources.pdf_datasource import (
        PdfCorpusStreamReader,
    )

    r = PdfCorpusStreamReader({"path": str(tmp_path), "filesperpartition": "2"})
    o0 = r.initialOffset()
    for i in range(3):
        _utouch(tmp_path, f"{i}.pdf", 1_700_000_000 + i)
    o1 = r.latestOffset()

    # files land AFTER o1 was computed (the list-again race)
    for i in range(3, 6):
        _utouch(tmp_path, f"{i}.pdf", 1_700_000_100 + i)

    batch1 = [os.path.basename(f) for p in r.partitions(o0, o1) for f in p.files]
    assert batch1 == ["0.pdf", "1.pdf", "2.pdf"]  # the late landings are invisible

    # and a replay of the SAME range stays identical (exactly-once resume)
    replay = [os.path.basename(f) for p in r.partitions(o0, o1) for f in p.files]
    assert replay == batch1


def test_pushdown_empty_in_and_contradictory_equals(tmp_path):
    """Degenerate pushed predicates must plan empty, never crash:
    IN () (Catalyst can emit it after partition-pruning rewrites) and
    two contradictory equalities (AND-intersected to an empty probe)
    both yield the single-empty-partition plan."""
    from pyspark.sql.datasource import EqualTo, In

    _touch_pdfs(tmp_path, 3)

    r = PdfCorpusReader({"path": str(tmp_path)})
    assert list(r.pushFilters([In(("doc_id",), ())])) == []
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].files == []

    r2 = PdfCorpusReader({"path": str(tmp_path)})
    assert list(r2.pushFilters([EqualTo(("doc_id",), 0), EqualTo(("doc_id",), 2)])) == []
    parts2 = r2.partitions()
    assert len(parts2) == 1 and parts2[0].files == []


def test_run_corpus_releases_its_document_cache(spark, tmp_path):
    """run_corpus caches the per-document texts, fills the cache with its
    first write and reads it from the other four, which run concurrently;
    it must release the cache once every write is done: left cached, a
    second run over the same path in one session is served the first
    run's texts."""
    from test_dataengineer2026_spark.extraction.pdf import render_pdf
    from test_dataengineer2026_spark.extraction.pipeline import run_corpus

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    names = []
    for run, project in enumerate(("Alpha Project", "Beta Project")):
        (corpus / "report.pdf").write_bytes(
            render_pdf(f"Technical Report for the {project}, Ontario, Canada")
        )
        out = str(tmp_path / f"out{run}")
        run_corpus(spark, str(corpus), out, fmt="json")
        assert cache.numCachedEntries() == before
        names.append(
            [r["project_name"] for r in spark.read.json(f"{out}/projects").collect()]
        )
    assert names == [["Alpha Project"], ["Beta Project"]]


def _report_corpus(d, copies=1, scans=0):
    """The extraction queries' mini-corpus as PDFs in ``d`` (every table,
    the quarantine included, gets rows), each report written ``copies``
    times under different names, plus ``scans`` PDFs with no text layer.
    Returns the doc_ids (sha256 of the bytes) of the text reports."""
    import hashlib

    from test_dataengineer2026_spark.extraction.pdf import render_pdf, render_scanned_pdf
    from test_dataengineer2026_spark.queries.extraction_q import CORPUS

    d.mkdir()
    ids = set()
    for name, text in CORPUS:
        pdf = render_pdf(text)
        ids.add(hashlib.sha256(pdf).hexdigest())
        for c in range(copies):
            (d / f"{name}_{c}.pdf").write_bytes(pdf)
    for i in range(scans):
        (d / f"scan_{i}.pdf").write_bytes(render_scanned_pdf(f"scanned page {i}"))
    return ids


_TABLES = ("projects", "mineral_resources", "mineral_reserves", "economics", "quarantine")


def _read_tables(spark, out, fmt="json"):
    reader = spark.read.option("header", True) if fmt == "csv" else spark.read
    return {
        t: sorted(map(tuple, reader.format(fmt).load(f"{out}/{t}").collect()), key=repr)
        for t in _TABLES
    }


def test_doc_text_runs_the_pdf_udf_once(spark, tmp_path):
    """One row per PDF from the scan to the document text: the page texts
    are joined within the row, deduplicated by doc_id, and documents with
    no text layer dropped. The empty-text filter must stay above the
    dedupe aggregate; pushed below it, Catalyst evaluates pages_udf twice
    (two ArrowEvalPython nodes)."""
    from test_dataengineer2026_spark.extraction import extract as X
    from test_dataengineer2026_spark.extraction.pipeline import parse_pages, scan_pdfs

    text_ids = _report_corpus(tmp_path / "corpus", scans=2)
    docs = X.doc_text(parse_pages(scan_pdfs(spark, str(tmp_path / "corpus"))))
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan

    assert {r["doc_id"] for r in docs.collect()} == text_ids
    projects = X.extract_metadata(docs).collect()
    assert {r["doc_id"] for r in projects} == text_ids


def test_run_corpus_writes_duplicate_files_once(spark, tmp_path):
    """Byte-identical files are one document: a corpus holding every
    report twice under different names writes the same five tables as
    the corpus holding each once."""
    from test_dataengineer2026_spark.extraction.pipeline import run_corpus

    written = []
    for copies in (1, 2):
        corpus = tmp_path / f"corpus{copies}"
        _report_corpus(corpus, copies=copies)
        out = str(tmp_path / f"out{copies}")
        run_corpus(spark, str(corpus), out, fmt="json")
        written.append(_read_tables(spark, out))
    assert written[0] == written[1]
    assert all(written[0][t] for t in _TABLES), written[0]


def test_run_corpus_failed_write_raises_and_releases_cache(spark, tmp_path, monkeypatch):
    """A write that fails at run time, among the concurrent ones, fails
    the run with its own error, and the document cache is still released
    (after the other writes have finished)."""
    from test_dataengineer2026_spark.extraction import extract as X
    from test_dataengineer2026_spark.extraction.pipeline import run_corpus

    _report_corpus(tmp_path / "corpus")
    economics = X.extract_economics
    monkeypatch.setattr(
        X,
        "extract_economics",
        lambda docs: economics(docs).withColumn(
            "capex", F.raise_error(F.lit("economics sink failed")).cast("double")
        ),
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    with pytest.raises(Exception, match="economics sink failed"):
        run_corpus(spark, str(tmp_path / "corpus"), str(tmp_path / "out"), fmt="json")
    assert cache.numCachedEntries() == before


@pytest.mark.parametrize(
    "fmt, single_file",
    [("json", False), ("csv", False), ("parquet", False), ("json", True)],
)
def test_run_corpus_writes_every_table(spark, tmp_path, fmt, single_file):
    """Each sink format, and the one-file-per-table shape, gets all five
    tables with every row."""
    from test_dataengineer2026_spark.extraction.pipeline import run_corpus

    _report_corpus(tmp_path / "corpus")
    out = str(tmp_path / "out")
    tables = run_corpus(spark, str(tmp_path / "corpus"), out, fmt=fmt, single_file=single_file)
    for t in _TABLES:
        assert os.path.exists(f"{out}/{t}/_SUCCESS"), t
        parts = [n for n in os.listdir(f"{out}/{t}") if n.startswith("part-")]
        assert parts and (len(parts) == 1 or not single_file), (t, parts)
    counts = {t: len(rows) for t, rows in _read_tables(spark, out, fmt).items()}
    assert counts == {t: tables[t].count() for t in _TABLES}
    assert all(counts.values()), counts
