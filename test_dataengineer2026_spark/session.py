"""SparkSession factory.

Designed so the same code runs on local[N] (tests, bench) and on a real
multi-executor cluster: everything scale-sensitive (shuffle partitions,
AQE, broadcast threshold) is a config knob, not hard-coded logic.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Configs applied to every session we build, and defensively re-applied
#: (runtime-settable subset) to sessions handed to us by the harness.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics vs the DuckDB oracle (naive/UTC).
    "spark.sql.session.timeZone": "UTC",
    # Parquet timestamps without isAdjustedToUTC must read as TIMESTAMP
    # (LTZ, UTC session) — not TIMESTAMP_NTZ. The testdata generator writes
    # plain timestamp[us]; with NTZ inference on (Spark 4 default) every
    # unix_micros/watermark/window op over events.ts changes type, and the
    # DuckDB oracle treats the same bytes as epoch-micros. Pinning this off
    # keeps ts micros bit-identical across engines regardless of how the
    # harness regenerates the parquet.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # AQE: runtime coalescing, skew-join splitting, dynamic join selection.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas interchange (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: we use try_cast explicitly where safety matters and want
    # permissive casts elsewhere (matches DuckDB TRY_CAST usage in oracles).
    "spark.sql.ansi.enabled": "false",
    # Python DataSource filter pushdown (Spark 4.1, default off): the
    # pdfcorpus reader implements pushFilters (doc_id file pruning) and
    # Spark REFUSES to plan a pushFilters-bearing reader while this is
    # false — so the conf is part of using the source at all, not a
    # tuning knob (sources/pdf_datasource.py).
    "spark.sql.python.filterPushdown.enabled": "true",
}

#: Streaming disables AQE, so an un-tuned session would run every stateful
#: stage with 200 tasks; ``apply_runtime_confs`` pins this local-mode-sane
#: number — but only when the session still has Spark's stock 200, so an
#: explicitly tuned value (get_session(shuffle_partitions=...), bench,
#: conftest) is never clobbered. On a real cluster this is sized to
#: executor cores via spark-submit.
DEFAULT_SHUFFLE_PARTITIONS = "32"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Re-apply runtime-settable confs to an externally provided session.

    The verification driver builds its own SparkSession; query results must
    not depend on that session's timezone or Arrow settings.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # config may be static-only on some builds
            pass
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS
            )
    except Exception:
        pass
    return spark


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set session confs for the body of a ``with`` block, then put each
    key back the way it was: its old value, or unset if it had none.
    Keys are set in the given order and restored in reverse, also when
    the body raises."""
    restore: list[tuple[str, str | None]] = []
    try:
        for key, value in confs.items():
            restore.append((key, spark.conf.get(key, None)))
            spark.conf.set(key, value)
        yield
    finally:
        for key, old in reversed(restore):
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def get_session(
    app_name: str = "test_dataengineer2026_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned local session.

    On a real cluster the master/memory settings come from spark-submit;
    only the sql confs here matter. In local mode the driver is the whole
    cluster, so we size shuffle partitions to the core count — the default
    200 merely adds task-scheduling overhead at test scale while a real
    100 TB run would raise it (or let AQE coalesce from a high initial
    number).
    """
    n = shuffle_partitions or default_parallelism()
    builder = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]")
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    apply_runtime_confs(spark)
    # getOrCreate may return a pre-existing session whose builder configs
    # were ignored — re-apply the explicit sizing so the parameter always
    # takes effect.
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return spark
