"""Streaming semantics that depend on batch boundaries (M1 watermark,
M8 late-data policy, M9 trigger control) — exercised with a controlled
two-file split so watermark advancement between micro-batches is
deterministic."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from test_dataengineer2026_spark.session import scoped_confs


@pytest.fixture()
def two_batch_dir(spark, tmp_path):
    """Events split into two files: all rows before the cut in file 0,
    the rest in file 1; maxFilesPerTrigger=1 => two micro-batches in
    lexical file order."""
    from test_dataengineer2026_spark import tables

    e = tables.load(spark, "/root/testdata/sf0.001", "events")
    cut = "2024-01-20 00:00:00"
    d = str(tmp_path / "events_split")
    os.makedirs(d, exist_ok=True)
    e.filter(F.col("ts") < cut).coalesce(1).write.mode("overwrite").parquet(d + "/p0")
    e.filter(F.col("ts") >= cut).coalesce(1).write.mode("overwrite").parquet(d + "/p1")
    out = str(tmp_path / "stream_in")
    os.makedirs(out)
    for i, sub in enumerate(("p0", "p1")):
        for f in os.listdir(d + f"/{sub}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{d}/{sub}/{f}", f"{out}/batch_{i}.parquet")
    return out


def test_watermark_drops_late_rows_across_batches(spark, two_batch_dir, tmp_path):
    """M1/M8: with a 1-hour watermark in append mode, windows finalized
    by batch 1's watermark are emitted and late arrivals for them would
    be dropped; complete-mode totals exceed append-mode emissions."""
    schema = spark.read.parquet(two_batch_dir).schema
    s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        two_batch_dir
    )
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_append")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    appended = spark.table("wm_append")
    n_append = appended.count()

    batch_total = (
        spark.read.parquet(two_batch_dir)
        .groupBy(F.window("ts", "1 hour"))
        .count()
        .count()
    )
    # append emitted only watermark-finalized windows; the tail (after
    # the final watermark) stays in state, so strictly fewer windows.
    assert 0 < n_append < batch_total
    # emitted windows must all end at or before the final watermark
    max_ts = spark.read.parquet(two_batch_dir).agg(F.max("ts")).collect()[0][0]
    late_bound = max_ts.timestamp() - 3600
    for row in appended.select("window.end").collect():
        assert row["end"].timestamp() <= late_bound + 3600  # end <= watermark


def test_trigger_availablenow_terminates(spark, two_batch_dir, tmp_path):
    """M9: availableNow processes all pending input then stops."""
    schema = spark.read.parquet(two_batch_dir).schema
    s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        two_batch_dir
    )
    q = (
        s.groupBy("event_type")
        .count()
        .writeStream.format("memory")
        .queryName("m9_avail")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt9"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert not q.isActive
    got = {r["event_type"]: r["count"] for r in spark.table("m9_avail").collect()}
    want = {
        r["event_type"]: r["count"]
        for r in spark.read.parquet(two_batch_dir).groupBy("event_type").count().collect()
    }
    assert got == want


def test_foreachbatch_idempotent_sink(spark, two_batch_dir, tmp_path):
    """S10: foreachBatch sink writing per-epoch parquet — the idempotent
    retry unit (TEST.md:161): re-processing an epoch overwrites rather
    than duplicates."""
    out = str(tmp_path / "fb_out")
    schema = spark.read.parquet(two_batch_dir).schema

    def write_epoch(df, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        two_batch_dir
    )
    q = (
        s.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", str(tmp_path / "ckpt10"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    total = spark.read.parquet(out).count()
    assert total == spark.read.parquet(two_batch_dir).count()


def test_stateful_funnel_folds_state_across_batches(spark):
    """M6: the applyInPandasWithState funnel must accumulate prior state,
    so its LAST emission per user over a 3-batch feed equals the
    whole-stream batch answer (round-1 version recomputed per batch and
    only passed because the single-file feed yielded one batch)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from test_dataengineer2026_spark.queries.streaming_q import (
        FUNNEL_OUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        funnel_state_fn,
    )
    from test_dataengineer2026_spark.streaming.jobs import (
        read_events_stream_multifile,
        run_to_memory,
    )
    from test_dataengineer2026_spark import tables

    sf_dir = "/root/testdata/sf0.001"
    s = read_events_stream_multifile(spark, sf_dir)  # 3 files, 1/batch
    result = s.groupBy("user_id").applyInPandasWithState(
        funnel_state_fn,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_to_memory(result, "m6_funnel_multibatch", "update")
    # update-mode memory sink appends each batch's emissions; running
    # totals are monotone in n_events, so max(n_events) picks the final
    # emission per user.
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        sink.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )

    ev = tables.load(spark, sf_dir, "events")
    ordered = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    fp = (
        ordered.filter("event_type = 'purchase'")
        .groupBy("user_id")
        .agg(F.min("rn").alias("fp_rn"))
    )
    expected = (
        ordered.join(fp, "user_id", "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "n_purchases"
            ),
            F.max(F.when(F.col("rn") == F.col("fp_rn"), F.col("event_id"))).alias(
                "first_purchase_id"
            ),
            F.count(
                F.when(
                    F.col("fp_rn").isNotNull() & (F.col("rn") < F.col("fp_rn")), 1
                )
            ).alias("n_before_first_purchase"),
        )
    )
    got = {r["user_id"]: r.asDict() for r in final.collect()}
    want = {r["user_id"]: r.asDict() for r in expected.collect()}
    assert got == want


def test_m10_stream_stream_join_multibatch(spark):
    """M10 over the 3-file feed (one file per micro-batch): views held
    in the join state store must still match purchases arriving in
    LATER micro-batches, and watermark eviction must not drop any
    in-horizon pair — the result equals the batch self-join exactly."""
    from test_dataengineer2026_spark import tables
    from test_dataengineer2026_spark.streaming.jobs import (
        read_events_stream_multifile,
        run_to_memory,
    )
    from tests.conftest import SF_DIR

    def side(df, typ, prefix):
        return df.filter(F.col("event_type") == typ).select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("ts").alias(f"{prefix}_ts"),
        )

    views = side(
        read_events_stream_multifile(spark, SF_DIR), "view", "v"
    ).withWatermark("v_ts", "1 hour")
    purchases = side(
        read_events_stream_multifile(spark, SF_DIR), "purchase", "p"
    ).withWatermark("p_ts", "1 hour")
    joined = views.join(
        purchases,
        F.expr("v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + interval 1 hour"),
    ).select("v_id", "p_id")
    got = {(r.v_id, r.p_id) for r in run_to_memory(joined, "m10_multi", "append").collect()}

    ev = tables.load(spark, SF_DIR, "events")
    v = side(ev, "view", "v")
    p = side(ev, "purchase", "p")
    want = {
        (r.v_id, r.p_id)
        for r in v.join(
            p,
            F.expr(
                "v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + interval 1 hour"
            ),
        )
        .select("v_id", "p_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_m13_left_outer_join_state_is_watermark_bounded(spark):
    """M13 state contract: the left-outer stream-stream join must run as
    a symmetric hash join whose state store EVICTS rows as the watermark
    advances — final retained state strictly smaller than the rows ever
    added, with nonzero removals. Without eviction the join's memory
    grows with the stream and the operator is not runnable forever."""
    from test_dataengineer2026_spark.streaming.jobs import (
        read_events_stream_multifile,
    )
    from tests.conftest import SF_DIR

    def side(typ, prefix):
        return (
            read_events_stream_multifile(spark, SF_DIR)
            .filter(F.col("event_type") == typ)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    joined = side("view", "v").join(
        side("purchase", "p"),
        F.expr("v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + interval 1 hour"),
        "left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_m13_state")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = [op for p in q.recentProgress for op in p["stateOperators"]]
    assert any("symmetricHashJoin" in op.get("operatorName", "") for op in ops), ops
    rows_added = sum(op.get("numRowsUpdated", 0) for op in ops)
    rows_removed = sum(op.get("numRowsRemoved", 0) for op in ops)
    final_total = q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"]
    assert rows_removed > 0, ops
    assert final_total < rows_added, (final_total, rows_added)


def test_m12_listener_captures_progress_and_observed_metrics(spark):
    """M12 surface: the StreamingQueryListener must capture >=1 progress
    event with per-batch input rows and df.observe metrics, and signal
    termination."""
    from test_dataengineer2026_spark.streaming.jobs import (
        MetricsListener,
        read_events_stream_multifile,
        run_to_memory,
    )

    from tests.conftest import SF_DIR

    lst = MetricsListener()
    lst.attach(spark)
    try:
        s = read_events_stream_multifile(spark, SF_DIR)
        obs = s.observe("t_obs", F.count(F.lit(1)).alias("obs_rows"))
        agg = obs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        run_to_memory(agg, "t_m12_listener", "complete")
        lst.await_terminated()
    finally:
        lst.detach(spark)

    data = [p for p in lst.progress if p["num_input_rows"] > 0]
    assert len(data) >= 1
    assert lst.terminated
    total = sum(p["num_input_rows"] for p in data)
    observed = sum(p["observed"]["t_obs"]["obs_rows"] for p in data)
    assert total == observed > 0


def test_m15_resume_processes_only_the_new_file(spark, tmp_path):
    """M15's core claim, pinned from query progress: restarting a
    checkpointed stream after a new file lands processes EXACTLY the
    new file's rows — no reprocessing of committed input, no loss —
    and the sink re-read (via _spark_metadata) holds every event
    exactly once."""
    from test_dataengineer2026_spark import tables
    from test_dataengineer2026_spark.streaming.jobs import (
        read_staged_stream,
        stage_events_multifile,
    )

    sf = "/root/testdata/sf0.001"
    multi = stage_events_multifile(spark, sf)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for name in ("00-events.parquet", "01-events.parquet"):
        shutil.copy2(os.path.join(multi, name), os.path.join(feed, name))
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")

    def run_once():
        s = read_staged_stream(spark, feed).select("event_id", "event_type")
        q = (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in (q.recentProgress or []))

    n_run1 = run_once()
    # third file lands with a newer mtime
    dst = os.path.join(feed, "02-events.parquet")
    shutil.copy2(os.path.join(multi, "02-events.parquet"), dst)
    newest = max(
        os.stat(os.path.join(feed, f)).st_mtime
        for f in os.listdir(feed)
        if f != "02-events.parquet"
    )
    os.utime(dst, (newest + 100, newest + 100))
    n_run2 = run_once()

    total = tables.load(spark, sf, "events").count()
    n_third = spark.read.parquet(os.path.join(multi, "02-events.parquet")).count()
    assert n_run1 == total - n_third
    assert n_run2 == n_third  # delta only — the offset log resumed
    back = spark.read.parquet(sink)
    assert back.count() == total
    assert back.select("event_id").distinct().count() == total


def test_resume_stage_restages_in_a_relocated_checkout(
    spark, tmp_path, monkeypatch
):
    """A stage copied to another checkout is not current there, even
    though the source fingerprint still matches: M15's checkpoint and
    sink metadata hold the old stage's absolute paths. The stamp names
    the stage directory, so the copy is rebuilt from scratch."""
    from test_dataengineer2026_spark.streaming import jobs
    from tests.conftest import SF_DIR as sf

    old_root = tmp_path / "old" / "stream_stage"
    monkeypatch.setattr(jobs, "_STAGE_ROOT", str(old_root))
    layout = jobs.stage_events_resume(spark, sf)
    os.makedirs(layout["ckpt"])
    open(os.path.join(layout["ckpt"], "metadata"), "w").close()
    jobs.mark_resume_done(layout, sf)  # as M15 does after its two runs
    assert jobs.stage_events_resume(spark, sf) == layout  # reused in place

    new_root = tmp_path / "new" / "stream_stage"
    shutil.copytree(old_root, new_root)
    monkeypatch.setattr(jobs, "_STAGE_ROOT", str(new_root))
    moved = jobs.stage_events_resume(spark, sf)
    assert moved["done"].startswith(str(new_root))
    assert not os.path.exists(moved["done"])  # restaged, runs pending
    assert not os.path.exists(moved["ckpt"])  # old checkpoint wiped
    assert sorted(os.listdir(moved["feed"])) == [
        "00-events.parquet",
        "01-events.parquet",
    ]
    # the split stage it copies from was rebuilt under the new root too
    with open(os.path.join(os.path.dirname(moved["pending_src"]), "_STAGED")) as f:
        assert f.read().startswith(str(new_root))


def test_stage_events_dir_handles_multifile_layout(tmp_path):
    """The round-11 multi-file probe: when events.parquet is a DIRECTORY
    of part files (any real-scale layout) the stage must link each leaf
    file individually — a symlink to the directory nests it under the
    stage, the file stream source lists no leaf files, and every stream
    query dies with UNABLE_TO_INFER_SCHEMA. Also pins the stale-link
    cleanup across layout transitions and part-file removal."""
    import duckdb

    from test_dataengineer2026_spark.streaming import jobs
    from tests.conftest import SF_DIR

    src_root = tmp_path / "sf"
    src_root.mkdir()
    con = duckdb.connect()

    def stage_links():
        d = jobs.stage_events_dir(str(src_root))
        return d, sorted(
            f for f in os.listdir(d) if os.path.islink(os.path.join(d, f))
        )

    # 1) single-file layout (the driver's fixture shape)
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SF_DIR}/events.parquet')) "
        f"TO '{src_root}/events.parquet' (FORMAT PARQUET)"
    )
    d, links = stage_links()
    assert links == ["events.parquet"]
    assert not os.path.isdir(os.path.realpath(os.path.join(d, links[0])))

    # 2) transition to a 2-part directory layout: the stale single-file
    # link must vanish and each part must get its own leaf link
    os.remove(src_root / "events.parquet")
    part_dir = src_root / "events.parquet"
    part_dir.mkdir()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SF_DIR}/events.parquet') "
        f"WHERE event_id % 2 = 0) TO '{part_dir}/p0.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SF_DIR}/events.parquet') "
        f"WHERE event_id % 2 = 1) TO '{part_dir}/p1.parquet' (FORMAT PARQUET)"
    )
    d, links = stage_links()
    assert links == ["events_p0.parquet", "events_p1.parquet"]
    assert all(
        not os.path.isdir(os.path.realpath(os.path.join(d, f))) for f in links
    )

    # 3) a removed part's link must be dropped on restage
    os.remove(part_dir / "p1.parquet")
    _, links = stage_links()
    assert links == ["events_p0.parquet"]

    # 4) the fingerprint must differ between the layouts' content states
    fp_dir = jobs._source_fingerprint(str(src_root))
    assert "p0.parquet" in fp_dir
    con.close()


def test_stream_query_layout_invariant_on_multifile(spark, tmp_path):
    """End-to-end pin for the probe's find: M2 (tumbling window over the
    file stream source) must produce the SAME result whether events is a
    single parquet file or a directory of part files. The oracle here is
    the single-file fixture result itself, so the assertion is pure
    layout-invariance (not DuckDB parity — that lives in test_parity)."""
    import duckdb

    from test_dataengineer2026_spark.registry import all_specs
    from tests.conftest import SF_DIR

    sf2 = tmp_path / "mf_sf"
    sf2.mkdir()
    con = duckdb.connect()
    from test_dataengineer2026_spark import tables as _tables

    for t in _tables.TABLES:
        dst = sf2 / f"{t}.parquet"
        if t == "events":
            dst.mkdir()
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet') "
                f"WHERE event_id % 2 = 0) TO '{dst}/p0.parquet' (FORMAT PARQUET)"
            )
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet') "
                f"WHERE event_id % 2 = 1) TO '{dst}/p1.parquet' (FORMAT PARQUET)"
            )
        else:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
    con.close()

    fn = all_specs()["M2_tumbling_window"].fn
    single = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    multi = sorted(map(tuple, fn(spark, str(sf2)).collect()))
    assert single == multi and len(single) > 0


def test_stage_events_dir_handles_hive_layout(tmp_path):
    """The round-12 Hive-layout probe: when events.parquet is a
    Hive-partitioned directory (key=value subdirs, partition column
    absent from the data files — every 100 TB lake table), the stage
    must MIRROR the key=value structure with per-leaf links so the file
    stream source can reconstruct the partition column; flat-linking
    the leaves would silently DROP event_type from the stream. Also
    pins the transition back to a flat layout: emptied key=value dirs
    must be garbage-collected or Spark infers a phantom partition
    column from the leftover directory name."""
    import pyarrow.dataset as pa_ds
    import pyarrow.parquet as pq

    from test_dataengineer2026_spark.streaming import jobs
    from tests.conftest import SF_DIR

    src_root = tmp_path / "sf"
    src_root.mkdir()
    tbl = pq.read_table(f"{SF_DIR}/events.parquet")

    # 1) hive layout: stage mirrors the key=value structure
    pa_ds.write_dataset(
        tbl,
        str(src_root / "events.parquet"),
        format="parquet",
        partitioning=pa_ds.partitioning(
            tbl.schema.empty_table().select(["event_type"]).schema,
            flavor="hive",
        ),
        basename_template="part-{i}.parquet",
    )
    d = jobs.stage_events_dir(str(src_root))
    staged = sorted(
        os.path.relpath(os.path.join(root, f), d)
        for root, _dirs, files in os.walk(d)
        for f in files
        if os.path.islink(os.path.join(root, f))
    )
    assert staged, "hive source staged nothing"
    assert all(s.startswith("event_type=") and os.sep in s for s in staged)
    # the partition column must be reconstructable from the staged tree
    n_types = len({s.split(os.sep)[0] for s in staged})
    assert n_types == 5
    # fingerprint covers every hive leaf by relative path
    fp = jobs._source_fingerprint(str(src_root))
    assert all(s in fp for s in staged)

    # 2) transition hive -> single file: every hive link AND the
    # emptied key=value dirs must vanish
    import shutil

    shutil.rmtree(src_root / "events.parquet")
    shutil.copyfile(f"{SF_DIR}/events.parquet", src_root / "events.parquet")
    d = jobs.stage_events_dir(str(src_root))
    leftover_dirs = [e for e in os.listdir(d) if os.path.isdir(os.path.join(d, e))]
    assert leftover_dirs == [], f"phantom partition dirs survive: {leftover_dirs}"
    links = sorted(
        f for f in os.listdir(d) if os.path.islink(os.path.join(d, f))
    )
    assert links == ["events.parquet"]


def test_stage_events_dir_clears_non_symlink_blockers(tmp_path):
    """r12 advisor pin: a REGULAR file or directory squatting on a link
    path (a stage dir polluted by a crashed foreign writer) used to
    raise FileExistsError from os.symlink forever — the GC only removes
    symlinks, so the blocker was never cleared. stage_events_dir must
    now remove the squatter and stage the link."""
    import duckdb

    from test_dataengineer2026_spark.streaming import jobs
    from tests.conftest import SF_DIR

    src_root = tmp_path / "sf"
    src_root.mkdir()
    duckdb.connect().execute(
        f"COPY (SELECT * FROM read_parquet('{SF_DIR}/events.parquet')) "
        f"TO '{src_root}/events.parquet' (FORMAT PARQUET)"
    )
    # First stage to learn the stage dir, then pollute the link path —
    # once with a regular FILE, once with a non-empty DIRECTORY.
    d = jobs.stage_events_dir(str(src_root))
    link = os.path.join(d, "events.parquet")
    for pollute in ("file", "dir"):
        os.remove(link)
        if pollute == "file":
            with open(link, "w") as fh:
                fh.write("crashed-writer droppings")
        else:
            os.makedirs(os.path.join(link, "nested"))
            with open(os.path.join(link, "nested", "junk"), "w") as fh:
                fh.write("x")
        d2 = jobs.stage_events_dir(str(src_root))
        assert d2 == d
        assert os.path.islink(link), f"{pollute} blocker not cleared"
        assert os.path.realpath(link) == os.path.realpath(
            str(src_root / "events.parquet")
        )


def test_queries_layout_invariant_on_hive(spark, tmp_path):
    """End-to-end pin for the round-12 Hive probe: M2 (tumbling window
    over the file stream source, exercises the hive-aware staging) and
    T3 (batch scan of documents) must produce the SAME result whether
    the tables are single parquet files or Hive-partitioned key=value
    datasets with the partition column absent from the data files. The
    oracle is the single-file fixture result itself — pure layout
    invariance; DuckDB parity lives in test_parity and the replay
    tooling."""
    import shutil

    import pyarrow.dataset as pa_ds
    import pyarrow.parquet as pq

    from test_dataengineer2026_spark import tables as _tables
    from test_dataengineer2026_spark.registry import all_specs
    from tests.conftest import SF_DIR

    hive_cols = {"events": "event_type", "documents": "lang"}
    sf2 = tmp_path / "hive_sf"
    sf2.mkdir()
    for t in _tables.TABLES:
        dst = sf2 / f"{t}.parquet"
        if t in hive_cols:
            tbl = pq.read_table(f"{SF_DIR}/{t}.parquet")
            pa_ds.write_dataset(
                tbl,
                str(dst),
                format="parquet",
                partitioning=pa_ds.partitioning(
                    tbl.schema.empty_table().select([hive_cols[t]]).schema,
                    flavor="hive",
                ),
                basename_template="part-{i}.parquet",
            )
            # the probe is reconstruction: the column must NOT be in files
            leaf = next(dst.glob("*/*.parquet"))
            assert hive_cols[t] not in [
                f.name for f in pq.ParquetFile(leaf).schema_arrow
            ]
        else:
            shutil.copyfile(f"{SF_DIR}/{t}.parquet", dst)

    specs = all_specs()
    for name in ("M2_tumbling_window", "T3_quality_score"):
        fn = specs[name].fn
        single = sorted(
            tuple(r[c] for c in sorted(r.asDict()))
            for r in fn(spark, SF_DIR).collect()
        )
        hive = sorted(
            tuple(r[c] for c in sorted(r.asDict()))
            for r in fn(spark, str(sf2)).collect()
        )
        assert single == hive and len(single) > 0, name


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Checkpoint recovery, the property a 100 TB feed lives on: a
    RESTARTED query with the same checkpoint must resume from the file
    source's commit log — files processed before the stop are never
    reprocessed, files that landed after it are picked up, and the
    final sink holds each input row exactly once. Simulated with two
    availableNow runs sharing one checkpoint: run 1 sees only file 0,
    run 2 starts after file 1 lands."""
    import shutil

    from test_dataengineer2026_spark import tables

    e = tables.load(spark, "/root/testdata/sf0.001", "events")
    cut = "2024-01-20 00:00:00"
    stage = tmp_path / "feed"
    stage.mkdir()
    halves = [
        e.filter(F.col("ts") < cut),
        e.filter(F.col("ts") >= cut),
    ]
    spool = tmp_path / "spool"
    for i, h in enumerate(halves):
        h.coalesce(1).write.mode("overwrite").parquet(str(spool / f"h{i}"))
    parts0 = [
        f for f in os.listdir(spool / "h0") if f.endswith(".parquet")
    ]
    shutil.copy(str(spool / "h0" / parts0[0]), str(stage / "batch_0.parquet"))

    schema = spark.read.parquet(str(stage)).schema
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once(qname):
        s = spark.readStream.schema(schema).parquet(str(stage))
        q = (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(qname)
            .start()
        )
        assert q.awaitTermination(120)

    run_once("ckpt_run1")
    n_after_1 = spark.read.parquet(out).count()
    assert n_after_1 == halves[0].count()

    # file 1 lands while the query is DOWN; the restart must process
    # ONLY it — the commit log, not the directory listing, is truth
    parts1 = [
        f for f in os.listdir(spool / "h1") if f.endswith(".parquet")
    ]
    shutil.copy(str(spool / "h1" / parts1[0]), str(stage / "batch_1.parquet"))
    run_once("ckpt_run2")

    got = spark.read.parquet(out)
    assert got.count() == e.count()  # every row exactly once, no dupes
    assert got.select("event_id").distinct().count() == e.count()


def test_checkpoint_restart_restores_aggregation_state(spark, tmp_path):
    """State-store recovery: a restarted aggregation must fold NEW
    input into state RESTORED from the checkpoint — not recount from
    zero. Complete-mode per-type counts after the restart must equal
    the whole-input batch answer even though the second run's only
    unprocessed file is the second half."""
    import shutil

    from test_dataengineer2026_spark import tables

    e = tables.load(spark, "/root/testdata/sf0.001", "events")
    cut = "2024-01-20 00:00:00"
    stage = tmp_path / "feed"
    stage.mkdir()
    spool = tmp_path / "spool"
    for i, h in enumerate(
        (e.filter(F.col("ts") < cut), e.filter(F.col("ts") >= cut))
    ):
        h.coalesce(1).write.mode("overwrite").parquet(str(spool / f"h{i}"))

    def land(i):
        part = next(
            f for f in os.listdir(spool / f"h{i}") if f.endswith(".parquet")
        )
        shutil.copy(str(spool / f"h{i}" / part), str(stage / f"batch_{i}.parquet"))

    land(0)
    schema = spark.read.parquet(str(stage)).schema
    ckpt = str(tmp_path / "ckpt")

    def run_once(qname):
        s = spark.readStream.schema(schema).parquet(str(stage))
        q = (
            s.groupBy("event_type")
            .count()
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return {
            r["event_type"]: r["count"] for r in spark.table(qname).collect()
        }

    got1 = run_once("state_run1")
    land(1)
    got2 = run_once("state_run2")

    want = {
        r["event_type"]: r["count"]
        for r in e.groupBy("event_type").count().collect()
    }
    assert got2 == want  # restored state + new half, not a recount
    # and run 1 really was partial, so run 2's equality proves recovery
    assert sum(got1.values()) < sum(want.values())


def test_checkpoint_restart_restores_custom_state(spark, tmp_path):
    """applyInPandasWithState recovery: the CUSTOM state schema (M6's
    funnel counters) must round-trip the checkpoint across a restart —
    the restarted run folds the second half into per-user state built
    from the first, so each user's final emission equals the
    whole-stream answer. This is the recovery path for every custom
    stateful operator in the engine, distinct from the built-in
    aggregation state store."""
    import shutil

    from pyspark.sql import Window as W
    from pyspark.sql.streaming.state import GroupStateTimeout

    from test_dataengineer2026_spark import tables
    from test_dataengineer2026_spark.queries.streaming_q import (
        FUNNEL_OUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        funnel_state_fn,
    )

    e = tables.load(spark, "/root/testdata/sf0.001", "events")
    cut = "2024-01-20 00:00:00"
    stage = tmp_path / "feed"
    stage.mkdir()
    spool = tmp_path / "spool"
    for i, h in enumerate(
        (e.filter(F.col("ts") < cut), e.filter(F.col("ts") >= cut))
    ):
        h.coalesce(1).write.mode("overwrite").parquet(str(spool / f"h{i}"))

    def land(i):
        part = next(
            f for f in os.listdir(spool / f"h{i}") if f.endswith(".parquet")
        )
        shutil.copy(str(spool / f"h{i}" / part), str(stage / f"batch_{i}.parquet"))

    land(0)
    schema = spark.read.parquet(str(stage)).schema
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")

    def run_once():
        s = spark.readStream.schema(schema).parquet(str(stage))
        result = s.groupBy("user_id").applyInPandasWithState(
            funnel_state_fn,
            outputStructType=FUNNEL_OUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

        def write_epoch(df, epoch_id):
            df.write.mode("append").parquet(out)

        q = (
            result.writeStream.foreachBatch(write_epoch)
            .outputMode("update")  # the writer must declare the
            # stateful operator's mode; foreachBatch defaults to append
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run_once()
    land(1)
    run_once()

    # final emission per user = the row with the largest running count
    sink = spark.read.parquet(out)
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = sink.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")

    ordered = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    fp = (
        ordered.filter("event_type = 'purchase'")
        .groupBy("user_id")
        .agg(F.min("rn").alias("fp_rn"))
    )
    expected = (
        ordered.join(fp, "user_id", "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "n_purchases"
            ),
            F.max(
                F.when(F.col("rn") == F.col("fp_rn"), F.col("event_id"))
            ).alias("first_purchase_id"),
            F.count(
                F.when(
                    F.col("fp_rn").isNotNull() & (F.col("rn") < F.col("fp_rn")), 1
                )
            ).alias("n_before_first_purchase"),
        )
    )
    got = {r["user_id"]: r.asDict() for r in final.collect()}
    want = {r["user_id"]: r.asDict() for r in expected.collect()}
    assert got == want


def test_checkpoint_restart_restores_watermark(spark, tmp_path):
    """Watermark persistence: the watermark survives the checkpoint, so
    rows arriving AFTER a restart that are older than the restored
    watermark are dropped — run 1 processes the feed's NEWER half
    (advancing the watermark), run 2 feeds only OLDER rows; append-mode
    output must not change, even though a fresh query given the same
    old rows would emit windows for them (control asserted)."""
    import shutil

    from test_dataengineer2026_spark import tables

    e = tables.load(spark, "/root/testdata/sf0.001", "events")
    cut = "2024-01-20 00:00:00"
    stage = tmp_path / "feed"
    stage.mkdir()
    spool = tmp_path / "spool"
    # NEWER half lands first, OLDER half after the restart
    for i, h in enumerate(
        (e.filter(F.col("ts") >= cut), e.filter(F.col("ts") < cut))
    ):
        h.coalesce(1).write.mode("overwrite").parquet(str(spool / f"h{i}"))

    def land(i):
        part = next(
            f for f in os.listdir(spool / f"h{i}") if f.endswith(".parquet")
        )
        shutil.copy(str(spool / f"h{i}" / part), str(stage / f"batch_{i}.parquet"))

    land(0)
    schema = spark.read.parquet(str(stage)).schema
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")

    def run_once(qname):
        # memory sinks don't support checkpoint recovery ("This query
        # does not support recovering from checkpoint location") — a
        # restartable append stream needs a fault-tolerant sink
        s = spark.readStream.schema(schema).parquet(str(stage))
        agg = (
            s.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(qname)
            .start()
        )
        assert q.awaitTermination(120)
        return spark.read.parquet(out).count()

    n1 = run_once("wm_restart_1")
    assert n1 > 0
    land(1)
    n2 = run_once("wm_restart_2")
    # the old rows are all below the restored watermark: dropped, no
    # new finalized windows
    assert n2 == n1, (n1, n2)
    # control: those rows DO form windows when not late
    assert e.filter(F.col("ts") < cut).count() > 0


def test_task_retry_is_idempotent_for_pandas_udf_path():
    """Task-retry safety — the local stand-in for executor loss (the
    one failure mode local mode CAN express): under master
    local[4, 2] (maxFailures=2) a mapInPandas task that fails its
    FIRST attempt on one partition must, after Spark's retry, yield
    results identical to a clean run — no duplicated and no dropped
    rows. This pins the contract every Arrow-batched UDF in the engine
    (multimodal decode, V-family, grouped OLS) relies on at 100 TB:
    UDFs are pure per-partition functions, so a re-executed task is
    harmless. Runs in a subprocess because the retry master is a
    per-JVM setting."""
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent(
        """
        from pyspark.sql import SparkSession
        from pyspark import TaskContext
        import pandas as pd

        spark = (SparkSession.builder.master("local[4, 2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        df = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        ).repartition(4, "event_id")

        def transform(flaky):
            def fn(batches):
                tc = TaskContext.get()
                if flaky and tc.partitionId() == 0 and tc.attemptNumber() == 0:
                    raise RuntimeError("injected first-attempt failure")
                for b in batches:
                    yield pd.DataFrame(
                        {"event_id": b["event_id"], "v2": b["value"] * 2}
                    )
            return fn

        sch = "event_id long, v2 double"
        clean = sorted(map(tuple, df.mapInPandas(transform(False), sch).collect()))
        flaky = sorted(map(tuple, df.mapInPandas(transform(True), sch).collect()))
        if not clean:
            raise SystemExit("empty result")
        if clean != flaky:
            raise SystemExit(
                f"retry changed the result: {len(clean)} vs {len(flaky)} rows"
            )
        print("RETRY_IDEMPOTENT")
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=240
    )
    assert r.returncode == 0, r.stderr[-1500:]
    assert "RETRY_IDEMPOTENT" in r.stdout, r.stdout[-500:]


def test_checkpoint_restart_restores_dedup_state(spark, tmp_path):
    """dropDuplicates state recovery: keys emitted BEFORE the restart
    must still be suppressed AFTER it — the restarted run's second half
    contains keys already seen in the first, and the parquet sink must
    end with exactly the batch-DISTINCT key set, no re-emissions. The
    halves are split by user_id parity (not time), guaranteeing heavy
    key overlap across the restart."""
    import shutil

    from test_dataengineer2026_spark import tables

    e = tables.load(spark, "/root/testdata/sf0.001", "events")
    stage = tmp_path / "feed"
    stage.mkdir()
    spool = tmp_path / "spool"
    halves = [
        e.filter(F.col("event_id") % 2 == 0),
        e.filter(F.col("event_id") % 2 == 1),
    ]
    for i, h in enumerate(halves):
        h.coalesce(1).write.mode("overwrite").parquet(str(spool / f"h{i}"))

    def land(i):
        part = next(
            f for f in os.listdir(spool / f"h{i}") if f.endswith(".parquet")
        )
        shutil.copy(str(spool / f"h{i}" / part), str(stage / f"batch_{i}.parquet"))

    land(0)
    schema = spark.read.parquet(str(stage)).schema
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")

    def run_once(qname):
        s = spark.readStream.schema(schema).parquet(str(stage))
        dedup = s.select("user_id", "event_type").dropDuplicates(
            ["user_id", "event_type"]
        )
        q = (
            dedup.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(qname)
            .start()
        )
        assert q.awaitTermination(120)

    run_once("dedup_run1")
    n1 = spark.read.parquet(out).count()
    land(1)
    run_once("dedup_run2")

    got = spark.read.parquet(out)
    want = e.select("user_id", "event_type").distinct()
    # exactly the distinct key set, each key emitted once EVER
    assert got.count() == want.count()
    assert got.distinct().count() == got.count()
    # and the restart really had overlap to suppress (run 1 already
    # emitted most keys)
    assert n1 > want.count() // 2


def test_checkpoint_restart_restores_join_state(spark, tmp_path):
    """Stream-stream join state recovery: views buffered BEFORE the
    restart must still match purchases arriving AFTER it. The feed is
    split at a time cut, so every (view, purchase) pair straddling the
    cut can only be emitted if the view side's state store survived
    the checkpoint restart; the final sink must equal the batch
    interval self-join, and the test asserts cross-cut pairs exist so
    the equality genuinely witnesses recovery."""
    import shutil

    from test_dataengineer2026_spark import tables

    e = tables.load(spark, "/root/testdata/sf0.001", "events")
    # choose the cut FROM an actual attributed pair: cut = that pair's
    # purchase ts, so its view lands before the restart and its
    # purchase after — the cross-cut witness exists by construction
    _v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    _p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    pair_ts = sorted(
        r["p_ts"]
        for r in _v.join(
            _p,
            (_v.user_id == _p.p_user)
            & (_p.p_ts > _v.v_ts)
            & (_p.p_ts <= _v.v_ts + F.expr("INTERVAL 1 HOUR")),
            "inner",
        )
        .select("p_ts")
        .collect()
    )
    cut = pair_ts[len(pair_ts) // 2]  # median keeps both halves real
    stage = tmp_path / "feed"
    stage.mkdir()
    spool = tmp_path / "spool"
    for i, h in enumerate(
        (e.filter(F.col("ts") < cut), e.filter(F.col("ts") >= cut))
    ):
        h.coalesce(1).write.mode("overwrite").parquet(str(spool / f"h{i}"))

    def land(i):
        part = next(
            f for f in os.listdir(spool / f"h{i}") if f.endswith(".parquet")
        )
        shutil.copy(str(spool / f"h{i}" / part), str(stage / f"batch_{i}.parquet"))

    land(0)
    schema = spark.read.parquet(str(stage)).schema
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")

    def run_once(qname):
        s = spark.readStream.schema(schema).parquet(str(stage))
        views = (
            s.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "1 hour")
        )
        purchases = (
            spark.readStream.schema(schema)
            .parquet(str(stage))
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        joined = views.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
            "inner",
        ).select("user_id", "view_id", "purchase_id")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(qname)
            .start()
        )
        assert q.awaitTermination(180)

    run_once("join_run1")
    land(1)
    run_once("join_run2")

    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    want_df = v.join(
        p,
        (v.user_id == p.p_user)
        & (p.p_ts > v.v_ts)
        & (p.p_ts <= v.v_ts + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("user_id", "view_id", "purchase_id")
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, want_df.collect()))
    assert got == want and len(got) > 0
    # the equality only witnesses recovery if cross-cut pairs exist
    crossers = want_df.join(
        e.filter(F.col("ts") < cut).select(F.col("event_id").alias("view_id")),
        "view_id",
    ).join(
        e.filter(F.col("ts") >= cut).select(
            F.col("event_id").alias("purchase_id")
        ),
        "purchase_id",
    )
    assert crossers.count() > 0, "cut produced no cross-restart pairs"


def test_checkpoint_restart_survives_shuffle_partition_change(spark, tmp_path):
    """State RESCALING hazard, pinned: Structured Streaming writes
    spark.sql.shuffle.partitions into the checkpoint's offset log at
    query birth and state is physically sharded by that number
    forever. An operator who later tunes the session conf (the obvious
    cluster-resize move) must get a query that (a) keeps producing
    EXACT results and (b) keeps its state at the ORIGINAL shard count
    — NOT a half-rescaled state store reading the wrong shards. At
    100 TB this is the difference between a conf tweak and silent
    state loss on restart."""
    import shutil

    from test_dataengineer2026_spark import tables

    e = tables.load(spark, "/root/testdata/sf0.001", "events")
    cut = "2024-01-20 00:00:00"
    stage = tmp_path / "feed"
    stage.mkdir()
    spool = tmp_path / "spool"
    for i, h in enumerate(
        (e.filter(F.col("ts") < cut), e.filter(F.col("ts") >= cut))
    ):
        h.coalesce(1).write.mode("overwrite").parquet(str(spool / f"h{i}"))

    def land(i):
        part = next(
            f for f in os.listdir(spool / f"h{i}") if f.endswith(".parquet")
        )
        shutil.copy(str(spool / f"h{i}" / part), str(stage / f"b{i}.parquet"))

    land(0)
    schema = spark.read.parquet(str(stage)).schema
    ckpt = str(tmp_path / "ckpt")

    def run_once(qname):
        s = spark.readStream.schema(schema).parquet(str(stage))
        q = (
            s.groupBy("event_type")
            .count()
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return {
            r["event_type"]: r["count"] for r in spark.table(qname).collect()
        }

    born_with = int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_once("rescale_run1")
    land(1)
    # the cluster-resize move: restart under a DIFFERENT width
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": str(born_with + 5)}):
        got2 = run_once("rescale_run2")

    want = {
        r["event_type"]: r["count"]
        for r in e.groupBy("event_type").count().collect()
    }
    assert got2 == want, (got2, want)  # exact despite the conf change
    # state stayed sharded at the BIRTH width, ignoring the new conf
    state_dirs = [
        d
        for d in os.listdir(os.path.join(ckpt, "state", "0"))
        if d.isdigit()
    ]
    assert len(state_dirs) == born_with, (len(state_dirs), born_with)


# --- transformWithState (M6b) pins -----------------------------------
# Shared scaffolding: the three TWS tests below stage the same
# two-half feed and run the same bounded foreachBatch pass; keeping
# one copy prevents the dual-copy drift the r12 advisor flagged for
# duck_view_sql (and the r15 review flagged for the first two of
# these tests).


def _stage_two_half_feed(spark, tmp_path):
    """Split events at a fixed cut into two single-file halves under
    tmp_path/spool; land half 0 into tmp_path/feed. Returns
    (stage_dir, land, schema, events_df)."""
    import shutil

    from test_dataengineer2026_spark import tables

    e = tables.load(spark, "/root/testdata/sf0.001", "events")
    cut = "2024-01-20 00:00:00"
    stage = tmp_path / "feed"
    stage.mkdir()
    spool = tmp_path / "spool"
    for i, h in enumerate(
        (e.filter(F.col("ts") < cut), e.filter(F.col("ts") >= cut))
    ):
        h.coalesce(1).write.mode("overwrite").parquet(str(spool / f"h{i}"))

    def land(i):
        part = next(
            f for f in os.listdir(spool / f"h{i}") if f.endswith(".parquet")
        )
        shutil.copy(str(spool / f"h{i}" / part), str(stage / f"batch_{i}.parquet"))

    land(0)
    schema = spark.read.parquet(str(stage)).schema
    return stage, land, schema, e


def _run_tws_funnel_once(spark, schema, stage, ckpt, out):
    """One bounded (availableNow) transformWithState funnel pass over
    the staged feed, appending each epoch to ``out``. The caller owns
    the RocksDB-provider conf."""
    from test_dataengineer2026_spark.queries.streaming_q import (
        FUNNEL_OUT_SCHEMA,
        make_funnel_processor,
    )

    s = spark.readStream.schema(schema).parquet(str(stage))
    result = s.groupBy("user_id").transformWithStateInPandas(
        make_funnel_processor(),
        outputStructType=FUNNEL_OUT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )

    def write_epoch(df, epoch_id):
        df.write.mode("append").parquet(out)

    q = (
        result.writeStream.foreachBatch(write_epoch)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)


def _final_per_user(spark, out):
    """Last (largest-n_events) emission per user from an update-mode
    parquet sink."""
    from pyspark.sql import Window as W

    sink = spark.read.parquet(out)
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn"),
        sink,
    )


def _expected_funnel(spark, e):
    """Batch recomputation of the funnel truth (mirrors the M6/M6b
    oracle SQL)."""
    from pyspark.sql import Window as W

    ordered = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    fp = (
        ordered.filter("event_type = 'purchase'")
        .groupBy("user_id")
        .agg(F.min("rn").alias("fp_rn"))
    )
    return (
        ordered.join(fp, "user_id", "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "n_purchases"
            ),
            F.max(
                F.when(F.col("rn") == F.col("fp_rn"), F.col("event_id"))
            ).alias("first_purchase_id"),
            F.count(
                F.when(
                    F.col("fp_rn").isNotNull() & (F.col("rn") < F.col("fp_rn")),
                    1,
                )
            ).alias("n_before_first_purchase"),
        )
    )


def _tws_ready_or_skip(spark):
    from test_dataengineer2026_spark import pbcompat

    if not pbcompat.ensure(spark):
        pytest.skip("no protobuf runtime and no Cloud SDK fallback")


def _rocksdb(spark):
    """Scope with the RocksDB state store provider transformWithState
    needs; the previous provider (or none) comes back on exit."""
    from test_dataengineer2026_spark.queries.streaming_q import _ROCKSDB_PROVIDER

    return scoped_confs(
        spark, {"spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER}
    )


def test_transform_with_state_restart_restores_custom_state(spark, tmp_path):
    """M6b recovery pin, mirroring M6's: transformWithStateInPandas'
    named ValueState (the funnel counters, RocksDB provider) must
    round-trip the checkpoint across a restart — the restarted run
    folds the second half of the feed into per-user state built from
    the first, so each user's final emission equals the whole-stream
    batch answer. Distinct from M6's pin because the state layout is a
    different surface entirely (named state variables in the RocksDB
    store + the protobuf state-server protocol, not the
    applyInPandasWithState row-encoded GroupState)."""
    _tws_ready_or_skip(spark)
    stage, land, schema, e = _stage_two_half_feed(spark, tmp_path)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    with _rocksdb(spark):
        _run_tws_funnel_once(spark, schema, stage, ckpt, out)
        land(1)
        _run_tws_funnel_once(spark, schema, stage, ckpt, out)

    final, sink = _final_per_user(spark, out)
    got = {r["user_id"]: r.asDict() for r in final.collect()}
    want = {r["user_id"]: r.asDict() for r in _expected_funnel(spark, e).collect()}
    assert got == want
    # and run 1 really was partial: some user's counter grew in run 2
    from pyspark.sql import Window as W

    firsts = (
        sink.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("n_events").asc())
            ),
        ).filter("rn = 1")
    )
    assert firsts.join(
        final, ["user_id", "n_events"], "inner"
    ).count() < final.count(), "feed split produced no second-run growth"


def test_transform_with_state_restart_under_rescale(spark, tmp_path):
    """The cluster-resize contract for the NEW stateful surface: a
    transformWithState checkpoint restarted under a DIFFERENT
    spark.sql.shuffle.partitions must stay exact — Spark freezes the
    state shard count at the query's birth width (the conf change is
    ignored for state layout), same contract the M4 pin documents for
    the built-in session-window store, re-proven here because the
    RocksDB provider + named-state layout is an entirely different
    store implementation."""
    _tws_ready_or_skip(spark)
    stage, land, schema, e = _stage_two_half_feed(spark, tmp_path)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    born_with = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with _rocksdb(spark):
        _run_tws_funnel_once(spark, schema, stage, ckpt, out)
        land(1)
        # the cluster-resize move: restart under a DIFFERENT width
        with scoped_confs(
            spark, {"spark.sql.shuffle.partitions": str(born_with + 5)}
        ):
            _run_tws_funnel_once(spark, schema, stage, ckpt, out)

    final, _ = _final_per_user(spark, out)
    want = {
        r["user_id"]: r["n"]
        for r in e.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    got = {r["user_id"]: r["n_events"] for r in final.collect()}
    assert got == want  # exact despite the conf change
    # state stayed sharded at the BIRTH width, ignoring the new conf
    state_dirs = [
        d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit()
    ]
    assert len(state_dirs) == born_with, (len(state_dirs), born_with)


def test_transform_with_state_list_and_map_state(spark):
    """transformWithState's OTHER named state kinds (M6b covers
    ValueState): ListState accumulation and MapState upsert/iterate
    must fold across micro-batches — each exercises its own message
    family of the protobuf state-server protocol (appendValue/get vs
    updateValue/iterator), so a pin on ValueState alone would leave
    most of the protocol surface untested. Over the 3-file feed the
    final emission per user must equal the batch answer."""
    import pandas as pd

    from pyspark.sql import Window as W

    from test_dataengineer2026_spark import tables
    from test_dataengineer2026_spark.streaming.jobs import (
        read_events_stream_multifile,
        run_to_memory,
    )

    _tws_ready_or_skip(spark)

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _ListMapProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._ids = handle.getListState("ids", "id long")
            self._cnt = handle.getMapState("cnt", "k string", "v long")

        def handleInputRows(self, key, rows, timerValues):
            pdf = pd.concat(list(rows))
            self._ids.appendList([(int(i),) for i in pdf["event_id"]])
            for etype, n in pdf["event_type"].value_counts().items():
                prev = (
                    self._cnt.getValue((etype,))[0]
                    if self._cnt.containsKey((etype,))
                    else 0
                )
                self._cnt.updateValue((etype,), (prev + int(n),))
            ids = [t[0] for t in self._ids.get()]
            counts = {k[0]: v[0] for k, v in self._cnt.iterator()}
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "n_ids": len(ids),
                        "sum_ids": sum(ids),
                        "n_types": len(counts),
                        "total": sum(counts.values()),
                    }
                ]
            )

        def close(self) -> None:
            pass

    sf_dir = "/root/testdata/sf0.001"
    s = read_events_stream_multifile(spark, sf_dir)  # 3 files, 1/batch
    with _rocksdb(spark):
        result = s.groupBy("user_id").transformWithStateInPandas(
            _ListMapProcessor(),
            outputStructType=(
                "user_id long, n_ids long, sum_ids long, "
                "n_types long, total long"
            ),
            outputMode="update",
            timeMode="none",
        )
        sink = run_to_memory(result, "m6c_listmap", "update")

    w = W.partitionBy("user_id").orderBy(F.col("n_ids").desc())
    final = (
        sink.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    ev = tables.load(spark, sf_dir, "events")
    expected = ev.groupBy("user_id").agg(
        F.count("*").alias("n_ids"),
        F.sum("event_id").alias("sum_ids"),
        F.countDistinct("event_type").alias("n_types"),
        F.count("*").alias("total"),
    )
    got = {r["user_id"]: r.asDict() for r in final.collect()}
    want = {r["user_id"]: r.asDict() for r in expected.collect()}
    assert got == want
    # multi-batch feed really exercised cross-batch folds
    assert sink.count() > final.count()


def test_statestore_reader_exposes_tws_state(spark, tmp_path):
    """M16 pin: ``spark.read.format("statestore")`` over a
    transformWithState checkpoint returns EXACTLY the live per-user
    ValueState (key struct + value struct, one row per user), and the
    companion ``state-metadata`` source reports the operator's
    state-variable inventory — the observability pair a platform team
    points its debugging tools at. Both reads happen WITHOUT the
    RocksDB provider conf set: the sources must resolve the store
    format from checkpoint metadata alone."""
    import json

    _tws_ready_or_skip(spark)
    stage, land, schema, e = _stage_two_half_feed(spark, tmp_path)
    land(1)  # whole feed in one run: final state == whole-stream answer
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    with _rocksdb(spark):
        _run_tws_funnel_once(spark, schema, stage, ckpt, out)

    state = (
        spark.read.format("statestore")
        .option("stateVarName", "funnel")
        .load(ckpt)
    )
    got = {
        r["key"]["user_id"]: (
            r["value"]["n"],
            r["value"]["np"],
            r["value"]["fp_id"] if r["value"]["fp_id"] >= 0 else None,
            r["value"]["nb"],
        )
        for r in state.collect()
    }
    want = {
        r["user_id"]: (
            r["n_events"],
            r["n_purchases"],
            r["first_purchase_id"],
            r["n_before_first_purchase"],
        )
        for r in _expected_funnel(spark, e).collect()
    }
    assert got == want

    md = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(md) == 1 and md[0]["operatorName"] == "transformWithStateInPandasExec"
    props = json.loads(md[0]["operatorProperties"])
    assert props["stateVariables"] == [
        {"stateName": "funnel", "stateVariableType": "ValueState", "ttlEnabled": False}
    ]


def _land_one_file(spark, feed, i, rows, schema_str):
    """Write ``rows`` as the feed's i-th single parquet file with a
    monotonically increasing mtime (file-source pickup order)."""
    import shutil

    tmp = str(feed) + f"_tmp{i}"
    spark.createDataFrame(rows, schema_str).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    dst = os.path.join(str(feed), f"{i:02d}.parquet")
    shutil.copy(os.path.join(tmp, part), dst)
    os.utime(dst, (1_700_000_000 + i * 100,) * 2)
    shutil.rmtree(tmp)


def test_transform_with_state_event_time_timers(spark, tmp_path):
    """The TIMER half of the transformWithState API (M6b uses ValueState
    only): an event-time session closer registers a per-user timer at
    last_event + gap, DELETES and re-registers it when later batches
    bring new events, and emits a close row from handleExpiredTimer once
    the watermark passes the expiry. Everything is event-time, so the
    fired set is a pure function of the data — deterministic under
    availableNow with maxFilesPerTrigger=1:

      file 0: users 1 (2 events), 2 (1 event)
      file 1: user 2 again (re-register), user 3
      file 2: far-future tick (user 99) that drags the watermark past
              every real expiry

    Expected: users 1-3 each close EXACTLY once with n == their total
    events and closed_at == last_ts + gap; the tick user never closes
    (nothing ever advances the watermark past ITS expiry)."""
    import pandas as pd

    _tws_ready_or_skip(spark)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    GAP_MS = 3_600_000

    class SessionCloser(StatefulProcessor):
        def init(self, handle):
            self.h = handle
            self.st = handle.getValueState("sess", "n long, last_ms long")

        def handleInputRows(self, key, rows, timerValues):
            df = pd.concat(list(rows))
            n0, _last0 = tuple(self.st.get()) if self.st.exists() else (0, -1)
            last_ms = int(df["ts"].astype("int64").max() // 1_000_000)
            self.st.update((n0 + len(df), last_ms))
            for t in list(self.h.listTimers()):
                self.h.deleteTimer(t)  # one live timer per key
            self.h.registerTimer(last_ms + GAP_MS)
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            n, _last = tuple(self.st.get())
            yield pd.DataFrame(
                [{
                    "user_id": key[0],
                    "n_at_close": n,
                    "closed_at_ms": expiredTimerInfo.getExpiryTimeInMs(),
                }]
            )

        def close(self):
            pass

    feed = tmp_path / "feed"
    feed.mkdir()
    sch = "user_id long, ts timestamp"

    def ts(s):
        import datetime

        return datetime.datetime.fromisoformat(s)

    _land_one_file(spark, feed, 0, [(1, ts("2024-01-01 00:00:00")),
                                    (1, ts("2024-01-01 00:05:00")),
                                    (2, ts("2024-01-01 10:00:00"))], sch)
    _land_one_file(spark, feed, 1, [(2, ts("2024-01-01 10:30:00")),
                                    (3, ts("2024-01-02 00:00:00"))], sch)
    _land_one_file(spark, feed, 2, [(99, ts("2024-03-01 00:00:00"))], sch)

    with _rocksdb(spark):
        s = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(feed))
            .withWatermark("ts", "0 seconds")
        )
        out = s.groupBy("user_id").transformWithStateInPandas(
            SessionCloser(),
            outputStructType="user_id long, n_at_close long, closed_at_ms long",
            outputMode="append",
            timeMode="eventTime",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("tws_timer_closes")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    got = {
        r["user_id"]: (r["n_at_close"], r["closed_at_ms"])
        for r in spark.table("tws_timer_closes").collect()
    }
    base = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC in ms
    assert got == {
        1: (2, base + 5 * 60_000 + GAP_MS),
        2: (2, base + (10 * 60 + 30) * 60_000 + GAP_MS),
        3: (1, base + 24 * 3_600_000 + GAP_MS),
    }
    # exactly once each, tick user silent
    assert spark.table("tws_timer_closes").count() == 3


def test_transform_with_state_ttl_expires_state(spark, tmp_path):
    """The TTL half of the API: a ValueState declared with
    ttlDurationMs must VANISH once processing time passes the TTL —
    the next batch's st.exists() is False and the counter restarts,
    unlike the no-TTL restart pins where state survives any pause.

    Operational boundary discovered while building this pin (and the
    reason for the trigger shape below): with timeMode="processingTime"
    a query processes all data but neither Trigger.AvailableNow's
    awaitTermination NOR processAllAvailable() ever returns (the
    operator can always have future timers/TTL work), so bounded runs
    here poll the sink for the batch's expected rows and then stop()
    the query explicitly."""
    import time

    import pandas as pd

    _tws_ready_or_skip(spark)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    TTL_MS = 2_000

    class TtlCounter(StatefulProcessor):
        def init(self, handle):
            self.st = handle.getValueState("cnt", "n long", ttlDurationMs=TTL_MS)

        def handleInputRows(self, key, rows, timerValues):
            df = pd.concat(list(rows))
            n0 = tuple(self.st.get())[0] if self.st.exists() else 0
            self.st.update((n0 + len(df),))
            yield pd.DataFrame(
                [{"user_id": key[0], "n": n0 + len(df), "resumed_from": n0}]
            )

        def close(self):
            pass

    feed = tmp_path / "feed"
    feed.mkdir()
    sch = "user_id long, v long"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def _sink_count():
        try:
            return spark.read.parquet(sink).count()
        except Exception:
            return 0  # sink dir not created yet

    def run_once(expect_total):
        s = spark.readStream.schema(sch).parquet(str(feed))
        out = s.groupBy("user_id").transformWithStateInPandas(
            TtlCounter(),
            outputStructType="user_id long, n long, resumed_from long",
            outputMode="update",
            timeMode="processingTime",
        )
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            deadline = time.monotonic() + 120
            while _sink_count() < expect_total:
                if q.exception() is not None:
                    raise q.exception()
                assert time.monotonic() < deadline, "sink never filled"
                time.sleep(0.5)
        finally:
            q.stop()
        q.awaitTermination(60)

    with _rocksdb(spark):
        _land_one_file(spark, feed, 0, [(1, 10), (1, 11), (2, 20)], sch)
        run_once(expect_total=2)  # one emission per user
        time.sleep(TTL_MS / 1000 + 2)  # let every key's TTL lapse
        _land_one_file(spark, feed, 1, [(1, 12), (2, 21)], sch)
        run_once(expect_total=4)

    rows = {
        (r["user_id"], r["n"], r["resumed_from"])
        for r in spark.read.parquet(sink).collect()
    }
    # run 1: fresh counters; run 2: state EXPIRED, so both users resume
    # from 0 instead of accumulating (a no-TTL restart would give
    # (1, 3, 2) / (2, 2, 1) — exactly what the restart pins assert).
    assert rows == {(1, 2, 0), (2, 1, 0), (1, 1, 0), (2, 1, 0)}


def test_statestore_reader_exposes_list_and_map_state(spark, tmp_path):
    """M16's companion pin for the OTHER state kinds: the statestore
    source reads ListState and MapState back in both shapes — flattened
    (default: one row per list element / per map entry) and nested
    (flattenCollectionTypes=false: one row per key carrying the whole
    array / map). Values must equal what the processor folded."""
    import pandas as pd

    _tws_ready_or_skip(spark)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _LM(StatefulProcessor):
        def init(self, handle):
            self.ids = handle.getListState("ids", "id long")
            self.cnt = handle.getMapState("cnt", "k string", "v long")

        def handleInputRows(self, key, rows, timerValues):
            df = pd.concat(list(rows))
            self.ids.appendList([(int(i),) for i in df["v"]])
            for t, n in df["t"].value_counts().items():
                prev = (
                    self.cnt.getValue((t,))[0]
                    if self.cnt.containsKey((t,))
                    else 0
                )
                self.cnt.updateValue((t,), (prev + int(n),))
            yield pd.DataFrame([{"user_id": key[0], "n": len(df)}])

        def close(self):
            pass

    feed = tmp_path / "feed"
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, 10, "a"), (1, 11, "b"), (1, 12, "a"), (2, 20, "a")],
        "user_id long, v long, t string",
    ).coalesce(1).write.parquet(str(feed))

    with _rocksdb(spark):
        s = spark.readStream.schema("user_id long, v long, t string").parquet(
            str(feed)
        )
        out = s.groupBy("user_id").transformWithStateInPandas(
            _LM(),
            outputStructType="user_id long, n long",
            outputMode="update",
            timeMode="none",
        )
        q = (
            out.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    # ListState, flattened: one row per element
    flat = spark.read.format("statestore").option("stateVarName", "ids").load(ckpt)
    got = sorted(
        (r["key"]["user_id"], r["list_element"]["id"]) for r in flat.collect()
    )
    assert got == [(1, 10), (1, 11), (1, 12), (2, 20)]

    # ListState, nested: whole array per key
    nested = (
        spark.read.format("statestore")
        .option("stateVarName", "ids")
        .option("flattenCollectionTypes", "false")
        .load(ckpt)
    )
    arrays = {
        r["key"]["user_id"]: sorted(e["id"] for e in r["list_value"])
        for r in nested.collect()
    }
    assert arrays == {1: [10, 11, 12], 2: [20]}

    # MapState, flattened: one row per (key, map-entry)
    m = spark.read.format("statestore").option("stateVarName", "cnt").load(ckpt)
    entries = sorted(
        (r["key"]["user_id"], r["user_map_key"]["k"], r["user_map_value"]["v"])
        for r in m.collect()
    )
    assert entries == [(1, "a", 2), (1, "b", 1), (2, "a", 1)]

    # MapState, nested: whole map per key
    mn = (
        spark.read.format("statestore")
        .option("stateVarName", "cnt")
        .option("flattenCollectionTypes", "false")
        .load(ckpt)
    )
    maps = {
        r["key"]["user_id"]: {k["k"]: v["v"] for k, v in r["map_value"].items()}
        for r in mn.collect()
    }
    assert maps == {1: {"a": 2, "b": 1}, 2: {"a": 1}}


def test_tws_timers_fire_after_restart(spark, tmp_path):
    """Timer state is CHECKPOINT-DURABLE and fires across a query
    restart (r17: the operational half of the M6c/M16b pair). Run 1
    registers a per-user event-time timer (never fired — nothing
    advances the watermark past it) and terminates. Run 2 on the SAME
    checkpoint lands only a far-future tick: the close row it emits
    can only come from the RECOVERED timer and value state — the new
    batch carries no user-1 events, so n_at_close proves the counts
    were restored, and closed_at_ms proves the expiry was."""
    from test_dataengineer2026_spark.queries.streaming_q import (
        _M6C_GAP_MS,
        make_session_closer,
    )

    _tws_ready_or_skip(spark)

    feed = tmp_path / "feed"
    feed.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    sch = "user_id long, ts timestamp"

    def ts(s):
        import datetime

        return datetime.datetime.fromisoformat(s)

    def run_once():
        s = (
            spark.readStream.schema(sch)
            .parquet(str(feed))
            .withWatermark("ts", "0 seconds")
        )
        out = s.groupBy("user_id").transformWithStateInPandas(
            make_session_closer(),
            outputStructType="user_id long, n_events long, closed_at_ms long",
            outputMode="append",
            timeMode="eventTime",
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    with _rocksdb(spark):
        # run 1: two user-1 events; its timer (last + gap) never fires
        _land_one_file(spark, feed, 0, [(1, ts("2024-01-01 00:00:00")),
                                        (1, ts("2024-01-01 00:05:00"))], sch)
        run_once()
        assert spark.read.schema(
            "user_id long, n_events long, closed_at_ms long"
        ).parquet(sink).count() == 0  # registered, not fired

        # run 2, same checkpoint: a tick long past user 1's expiry
        _land_one_file(spark, feed, 1, [(99, ts("2024-03-01 00:00:00"))], sch)
        run_once()

    rows = {
        r["user_id"]: (r["n_events"], r["closed_at_ms"])
        for r in spark.read.parquet(sink).collect()
    }
    base = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC in ms
    assert rows == {1: (2, base + 5 * 60_000 + _M6C_GAP_MS)}


def test_has_committed_batch_guard(tmp_path):
    """r17 advisor: Spark creates commits/ at stream START, so a bare
    os.path.exists(commits) treated a checkpoint whose build died before
    any batch committed as complete — a same-process retry then read
    partial timer state. The guard demands a real commit marker file."""
    from test_dataengineer2026_spark.queries.streaming_q import (
        _has_committed_batch,
    )

    ckpt = tmp_path / "ckpt"
    assert not _has_committed_batch(str(ckpt))  # no checkpoint at all

    (ckpt / "commits").mkdir(parents=True)
    assert not _has_committed_batch(str(ckpt))  # dir exists, zero commits

    (ckpt / "commits" / ".hidden.crc").write_text("")
    assert not _has_committed_batch(str(ckpt))  # dot-files don't count

    (ckpt / "commits" / "0").write_text("v1")
    assert _has_committed_batch(str(ckpt))  # batch 0 committed


def test_run_to_memory_until_stops_at_expected_rows(spark, tmp_path):
    """``until_rows`` exists because availableNow cannot self-terminate
    under processingTime timeMode (M6d): pin that the runner returns the
    sink once the expected cardinality lands, stops the query, and that
    a wedged stream raises instead of silently returning a partial
    table."""
    import pandas as pd

    from test_dataengineer2026_spark.streaming.jobs import run_to_memory

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"k": [1, 1, 2], "v": [10, 20, 30]}).to_parquet(
        src / "a.parquet"
    )
    s = spark.readStream.schema("k long, v long").parquet(str(src))
    agg = s.groupBy("k").count()
    out = run_to_memory(agg, "until_ok", "complete", until_rows=2)
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2), (2, 1)]
    # the query was stopped (or terminated) — no active stream remains
    assert all(
        q.name != "until_ok" or not q.isActive
        for q in spark.streams.active
    )


def test_run_to_memory_until_natural_termination_returns_final_sink(
    spark, tmp_path
):
    """A stream that terminates ON ITS OWN before reaching
    ``until_rows`` returns the final sink rather than raising: the
    sink cannot grow after termination, so waiting longer (or raising
    TimeoutError) would be wrong — for M6d the downstream oracle gate
    is what catches a genuinely short result. The TimeoutError branch
    guards the opposite case (a stream that neither terminates nor
    reaches the count — the tws/processingTime behaviour ``until_rows``
    exists for) which no plain file-source availableNow stream can
    reproduce: those always self-terminate, as this test demonstrates."""
    import pandas as pd

    from test_dataengineer2026_spark.streaming.jobs import run_to_memory

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"k": [1], "v": [10]}).to_parquet(src / "a.parquet")
    s = spark.readStream.schema("k long, v long").parquet(str(src))
    agg = s.groupBy("k").count()
    out = run_to_memory(
        agg, "until_short", "complete", until_rows=99, timeout_s=30
    )
    assert [tuple(r) for r in out.collect()] == [(1, 1)]
    assert all(
        q.name != "until_short" or not q.isActive
        for q in spark.streams.active
    )


def test_run_to_memory_until_rows_unsets_shuffle_partitions_it_set(
    spark, tmp_path
):
    """A session with no ``spark.sql.shuffle.partitions`` set must get
    none back after a run that pinned it: the runner restores through
    ``scoped_confs``, which unsets a key that was unset before."""
    import pandas as pd

    from test_dataengineer2026_spark.streaming.jobs import run_to_memory

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"k": [1, 2], "v": [10, 20]}).to_parquet(src / "a.parquet")
    agg = spark.readStream.schema("k long, v long").parquet(str(src)).groupBy(
        "k"
    ).count()
    key = "spark.sql.shuffle.partitions"
    # the outer scope only gives the session its own width back afterwards
    with scoped_confs(spark, {key: "4"}):
        spark.conf.unset(key)
        assert spark.conf.get(key, None) is None
        out = run_to_memory(
            agg, "until_unset", "complete", shuffle_partitions=1, until_rows=2
        )
        assert out.count() == 2
        assert spark.conf.get(key, None) is None


def test_run_to_memory_refuses_to_run_beside_an_active_stream(spark):
    """The runner changes session-wide confs, so it refuses to start
    while another stream is active — with a ``RuntimeError``, which
    ``python -O`` cannot strip the way it strips an ``assert``."""
    from test_dataengineer2026_spark.streaming.jobs import run_to_memory

    other = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop")
        .start()
    )
    try:
        s = spark.readStream.format("rate").load()
        with pytest.raises(RuntimeError, match="active"):
            run_to_memory(s, "beside_active", "append")
    finally:
        other.stop()


def test_scoped_confs_restores_set_and_unset_keys(spark):
    """scoped_confs puts a previously set key back to its old value and
    unsets a previously unset one, on normal exit and when the body
    raises."""
    set_key, unset_key = "spark.graft.test.was_set", "spark.graft.test.was_unset"
    spark.conf.set(set_key, "old")
    spark.conf.unset(unset_key)
    try:
        for fail in (False, True):
            try:
                with scoped_confs(spark, {set_key: "new", unset_key: "new"}):
                    assert spark.conf.get(set_key) == "new"
                    assert spark.conf.get(unset_key) == "new"
                    if fail:
                        raise ValueError("body failed")
            except ValueError:
                assert fail
            assert spark.conf.get(set_key, None) == "old"
            assert spark.conf.get(unset_key, None) is None
    finally:
        spark.conf.unset(set_key)


def test_processing_time_timers_fire_after_restart(spark, tmp_path):
    """Processing-time timer state is CHECKPOINT-DURABLE and fires
    across a query restart — the wall-clock mirror of the event-time
    pin above, and M6d's operational half. Run 1 counts two user-1
    rows and registers a timer ~20 s in the FUTURE, then stops before
    it can fire (sink provably empty). Run 2 on the SAME checkpoint
    sees only a user-99 row; the user-1 flush row it eventually emits
    can only come from the RECOVERED timer and value state — and its
    n_events=2 proves the counts came back with it."""
    import time

    from test_dataengineer2026_spark.queries.streaming_q import make_idle_flusher

    _tws_ready_or_skip(spark)

    feed = tmp_path / "feed"
    feed.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    sch = "user_id long, v long"
    out_sch = "user_id long, n_events long"

    def start_query(delay_ms):
        s = spark.readStream.schema(sch).parquet(str(feed))
        out = s.groupBy("user_id").transformWithStateInPandas(
            make_idle_flusher(delay_ms),
            outputStructType=out_sch,
            outputMode="append",
            timeMode="processingTime",
        )
        return (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def wait_for_commit(deadline_s=120):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            if any(
                not n.startswith(".")
                for n in __import__("os").listdir(f"{ckpt}/commits")
            ) if __import__("os").path.isdir(f"{ckpt}/commits") else False:
                return
            time.sleep(0.5)
        raise TimeoutError("no batch committed")

    with _rocksdb(spark):
        # run 1: timer lands ~20 s in the future; stop before it fires
        _land_one_file(spark, feed, 0, [(1, 10), (1, 20)], sch)
        q1 = start_query(delay_ms=20_000)
        wait_for_commit()
        q1.stop()
        assert (
            spark.read.schema(out_sch).parquet(sink).count() == 0
        )  # registered, not fired

        # run 2, same checkpoint: only a user-99 row arrives; poll the
        # sink until the RECOVERED user-1 timer expires and flushes
        _land_one_file(spark, feed, 1, [(99, 1)], sch)
        q2 = start_query(delay_ms=3_600_000)  # user-99's own timer: far future
        t0 = time.time()
        fired = {}
        while time.time() - t0 < 120:
            fired = {
                r["user_id"]: r["n_events"]
                for r in spark.read.schema(out_sch).parquet(sink).collect()
            }
            if 1 in fired:
                break
            time.sleep(2)
        q2.stop()

    assert fired.get(1) == 2, fired  # counts restored with the timer
    assert 99 not in fired  # run 2's own far-future timer never fired


def test_state_partition_policy_sizes_by_bytes(tmp_path):
    """stateful_shuffle_partitions (r19, guide §5): partitions track
    estimated keyed-state BYTES (feed bytes x expansion / target), never
    the local core count — tiny sandbox feeds collapse to 1 partition
    (eliminating per-partition store machinery), while a cluster-scale
    feed fans out linearly. Pinned against synthetic file sizes so a
    future knob change that silently re-couples the count to cores
    fails here."""
    from test_dataengineer2026_spark.streaming.jobs import (
        STATE_EXPANSION,
        STATE_TARGET_BYTES,
        stateful_shuffle_partitions,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    # empty feed: still a valid (1-partition) stream
    assert stateful_shuffle_partitions(str(feed)) == 1
    # a few MB (every sandbox feed): 1 partition
    (feed / "a.parquet").write_bytes(b"\0" * (2 << 20))
    assert stateful_shuffle_partitions(str(feed)) == 1
    # non-parquet files are not part of the feed estimate
    (feed / "_STAGED").write_bytes(b"\0" * (64 << 20))
    assert stateful_shuffle_partitions(str(feed)) == 1
    # cluster-scale feed: count scales linearly with bytes
    big = 100 * STATE_TARGET_BYTES
    (feed / "b.parquet").write_bytes(b"")
    os.truncate(feed / "b.parquet", int(big / STATE_EXPANSION))
    n = stateful_shuffle_partitions(str(feed))
    assert 100 <= n <= 101, n  # the 2 MB file adds at most one


def test_state_partition_policy_checkpoint_restore(spark, tmp_path):
    """Checkpoint-compatibility of the state-partition policy (r18
    verdict #1 'done' criterion): a stateful query BORN at the
    policy-sized width must restart correctly under any later session
    width — Spark records the birth count in the checkpoint and reuses
    it, so resizing the policy (new round, changed knobs, cluster move)
    can never corrupt an existing checkpoint. Exact results after
    restart + state physically sharded at the BIRTH width are both
    asserted."""
    import shutil

    from test_dataengineer2026_spark import tables
    from test_dataengineer2026_spark.streaming.jobs import (
        stateful_shuffle_partitions,
    )

    e = tables.load(spark, "/root/testdata/sf0.001", "events")
    cut = "2024-01-20 00:00:00"
    stage = tmp_path / "feed"
    stage.mkdir()
    spool = tmp_path / "spool"
    for i, h in enumerate(
        (e.filter(F.col("ts") < cut), e.filter(F.col("ts") >= cut))
    ):
        h.coalesce(1).write.mode("overwrite").parquet(str(spool / f"h{i}"))

    def land(i):
        part = next(
            f for f in os.listdir(spool / f"h{i}") if f.endswith(".parquet")
        )
        shutil.copy(str(spool / f"h{i}" / part), str(stage / f"b{i}.parquet"))

    land(0)
    born_with = stateful_shuffle_partitions(str(stage))
    assert born_with == 1  # sandbox-sized feed -> machinery-minimal width
    schema = spark.read.parquet(str(stage)).schema
    ckpt = str(tmp_path / "ckpt")

    def run_once(qname, width):
        with scoped_confs(spark, {"spark.sql.shuffle.partitions": str(width)}):
            s = spark.readStream.schema(schema).parquet(str(stage))
            q = (
                s.groupBy("event_type")
                .count()
                .writeStream.format("memory")
                .queryName(qname)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
        return {
            r["event_type"]: r["count"] for r in spark.table(qname).collect()
        }

    run_once("policy_run1", born_with)
    land(1)
    # restart under a DIFFERENT session width (policy re-derived after a
    # knob change, or a plain cluster conf): recorded width must win
    got2 = run_once("policy_run2", born_with + 7)
    want = {
        r["event_type"]: r["count"]
        for r in e.groupBy("event_type").count().collect()
    }
    assert got2 == want, (got2, want)
    state_dirs = [
        d
        for d in os.listdir(os.path.join(ckpt, "state", "0"))
        if d.isdigit()
    ]
    assert len(state_dirs) == born_with, (state_dirs, born_with)
