"""Per-query shuffle-volume audit: measured bytes, not plan reading.

The plan contracts (tests/test_plans.py) prove exchange COUNTS; this
tool measures exchange BYTES — the quantity that actually decides 100 TB
viability. It runs each named query against a UI-enabled session and
prints the delta in completed-stage shuffle read/write bytes, i.e. how
many bytes that one query moved through the shuffle.

Stage-level ``inputBytes`` is deliberately NOT reported: Spark's
file-scheme FileSystem.Statistics under-counts local vectorized parquet
reads by ~1000x (measured: a 10.8 MB lineitem scan reports ~18 KB), so
the number would be noise. Shuffle metrics come from the shuffle write
path itself and are exact.

CAVEAT — retained-stage eviction (round-9 measurement): the UI REST
store keeps ``spark.ui.retainedStages`` (default 1000) stages; a long
single-process audit (e.g. all 231 via an empty-prefix run) overflows
it, and evicted stages DROP OUT of the snapshot totals — late deltas
then under-count or go negative (measured: S13 read -10.6 MB, SQL22
write 4x low; both restored exactly in a fresh process). Audit big
registries in chunks, and treat any negative or read<write row as an
eviction artifact to re-measure fresh, not a result.

Usage:
    python scripts/shuffle_audit.py                 # headline queries
    python scripts/shuffle_audit.py A1 W3 SQL1      # name-prefix filter
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_names(specs: dict) -> list[str]:
    """Default audit set: bench.py's headliners minus the registry's
    ``streaming``-tagged ones, whose micro-batch stages are
    state-store-bound, not exchange-bound."""
    from bench import HEADLINE

    return [n for n in HEADLINE if "streaming" not in specs[n].tags]


def stage_totals(stages: list[dict]) -> tuple[int, int]:
    """(shuffle_read, shuffle_write) summed over COMPLETE stages.

    Pure so tests can drive it with synthetic payloads; SKIPPED stages
    carry zero metrics and are excluded by status, not position.
    """
    read = write = 0
    for s in stages:
        if s.get("status") == "COMPLETE":
            read += s.get("shuffleReadBytes", 0)
            write += s.get("shuffleWriteBytes", 0)
    return read, write


def _build_parser():
    import argparse

    ap = argparse.ArgumentParser(
        description=(
            "Measure per-query completed-stage shuffle bytes at sf0.1 "
            "via the Spark UI REST stage metrics; prints one JSON line "
            "per query. Needs a fresh python process (spark.ui.enabled "
            "is a static conf)."
        )
    )
    ap.add_argument(
        "prefixes", metavar="PREFIX", nargs="*",
        help="only audit queries whose name starts with one of these "
             "(default: the headline set)",
    )
    return ap


def parse_args(argv: list[str] | None = None):
    """CLI: query-name prefixes (parse-only — the empty-selection check
    needs the live registry, so it happens in main)."""
    return _build_parser().parse_args(argv)


def main() -> None:
    ap = _build_parser()
    args = ap.parse_args()

    from test_dataengineer2026_spark import registry
    from test_dataengineer2026_spark.session import get_session

    # The tuned session (8g heap — GR2 OOMs a default 1g driver), with
    # the UI turned back on: the REST stage endpoint IS the instrument.
    spark = get_session(
        "shuffle-audit",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "true"},
    )
    qs = registry.queries()
    prefixes = tuple(args.prefixes)
    names = (
        [n for n in qs if n.startswith(prefixes)]
        if prefixes
        else default_names(registry.all_specs())
    )
    if not names:
        ap.error(f"no registered query matches prefixes {list(prefixes)}")
    ui, app = spark.sparkContext.uiWebUrl, spark.sparkContext.applicationId
    # spark.ui.enabled is a static conf: if a SparkSession already exists
    # in this process, getOrCreate reuses it with the UI still off and
    # uiWebUrl is None — fail here with the real cause instead of a
    # confusing urlopen("None/api/...") error later. (r8 advisor, low)
    if ui is None:
        # runtime precondition, not a debug check: a bare assert is
        # stripped under `python -O` and the confusing
        # urlopen('None/api/...') failure comes back (r9 advisor)
        raise SystemExit(
            "Spark UI is disabled — the audit needs a FRESH python process "
            "(spark.ui.enabled is static and getOrCreate reused a UI-less "
            "session)"
        )

    def snapshot() -> tuple[int, int]:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages"
        ) as r:
            return stage_totals(json.load(r))

    # warm so the first audited query doesn't absorb one-time setup
    qs["A1_group_agg"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    prev = snapshot()
    for name in names:
        spark.catalog.clearCache()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        cur = snapshot()
        dr, dw = cur[0] - prev[0], cur[1] - prev[1]
        prev = cur
        print(
            json.dumps(
                {
                    "name": name,
                    "shuffle_read_mb": round(dr / 1e6, 3),
                    "shuffle_write_mb": round(dw / 1e6, 3),
                    "sf_dir": SF_DIR,
                }
            )
        )


if __name__ == "__main__":
    main()
