"""Bare-session portability gate.

The driver's correctness harness runs every registry query on a PLAIN
SparkSession — none of ``session.py``'s ENGINE_CONF entries are set.
Round 9 shipped a regression only visible there: the Python
DataSource readers exposed ``pushFilters``, which pyspark rejects at
planning time (``[DATA_SOURCE_PUSHDOWN_DISABLED]``) whenever
``spark.sql.python.filterPushdown.enabled`` is false — its default.
Both DataSource scans erred in CORRECTNESS_r09 while every local
sweep (which runs under ``get_spark()``) stayed green.

This module makes that class of bug fail in CI instead of at the
driver:

- unit tests pin the conf-gated reader selection on both DataSources
  (runtime conf toggle on the shared session);
- one subprocess test runs every registry query that READS through a
  Python DataSource format on a genuinely bare session — the driver's
  exact environment (``tools/check.py --bare`` is the full-sweep
  variant of the same gate).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from .conftest import SF001

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Every registry query whose read path goes through format("deltalog")
# / format("iceberglog") — the surface where a session conf can change
# PLANNING behavior (pushFilters). Grep-derived; test_layout pins the
# list against the registry source so additions can't dodge the gate.
DATASOURCE_QUERIES = [
    "deltalog_source_scan",
    "iceberglog_source_scan",
    "streaming_datasource_write",
    "streaming_cdf_read",
    "iceberg_changelog_scan",
    "delta_column_mapping_id_scan",
    "iceberg_eq_changelog_scan",
    "delta_v2_checkpoint_scan",
]


def _toggle(spark, value: str | None):
    key = "spark.sql.python.filterPushdown.enabled"
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


@pytest.fixture()
def pushdown_conf(spark):
    """Snapshot/restore the pushdown conf around a test (the shared
    session sets it true via ENGINE_CONF; tests below flip it)."""
    key = "spark.sql.python.filterPushdown.enabled"
    before = spark.conf.get(key, "false")
    yield spark
    spark.conf.set(key, before)


class TestConfGatedReaderSelection:
    """reader() must hand out a pushFilters-free reader when the
    active session has pushdown disabled — exposing the attribute
    there is itself a planning error."""

    @staticmethod
    def _overrides_pushdown(reader) -> bool:
        # pyspark's planner treats a reader as "pushdown-capable" when
        # its CLASS overrides DataSourceReader.pushFilters (the base
        # defines a no-op default, so hasattr is always true) — and
        # errors if an override exists while the session conf is off.
        from pyspark.sql.datasource import DataSourceReader

        return type(reader).pushFilters is not DataSourceReader.pushFilters

    def test_deltalog_reader_classes(self, pushdown_conf, tmp_path):
        from pyspark.sql.types import StructType

        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )
        from etl_processing_scd1_spark.sources.log_datasource import (
            _PushdownSnapshotReader,
            pushdown_enabled,
        )

        spark = pushdown_conf
        schema = StructType([])
        ds = DeltaLogDataSource({"path": str(tmp_path / "t")})

        _toggle(spark, "false")
        assert not pushdown_enabled()
        assert not self._overrides_pushdown(ds.reader(schema))

        _toggle(spark, "true")
        assert pushdown_enabled()
        r = ds.reader(schema)
        assert isinstance(r, _PushdownSnapshotReader)
        assert self._overrides_pushdown(r)

    def test_iceberglog_reader_classes(self, pushdown_conf, tmp_path):
        from pyspark.sql.types import StructType

        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )
        from etl_processing_scd1_spark.sources.log_datasource import (
            _PushdownSnapshotReader,
        )

        spark = pushdown_conf
        schema = StructType([])
        ds = IcebergLogDataSource({"path": str(tmp_path / "t")})

        _toggle(spark, "false")
        assert not self._overrides_pushdown(ds.reader(schema))

        _toggle(spark, "true")
        r = ds.reader(schema)
        assert isinstance(r, _PushdownSnapshotReader)
        assert self._overrides_pushdown(r)

    def test_filtered_read_correct_without_pushdown(
        self, pushdown_conf, tmp_path
    ):
        """End-to-end: with the conf OFF, a filtered scan of both
        formats returns the same rows as with it ON (pushdown is an
        optimization, never a correctness dependency)."""
        from etl_processing_scd1_spark.sources.deltalog_datasource import (
            DeltaLogDataSource,
        )
        from etl_processing_scd1_spark.sources.iceberglog_datasource import (
            IcebergLogDataSource,
        )

        spark = pushdown_conf
        spark.dataSource.register(DeltaLogDataSource)
        spark.dataSource.register(IcebergLogDataSource)
        nat = spark.read.parquet(f"{SF001}/nation.parquet")
        dl, il = str(tmp_path / "dl"), str(tmp_path / "il")
        nat.write.format("deltalog").mode("append").save(dl)
        nat.write.format("iceberglog").mode("append").save(il)

        counts = {}
        for conf in ("false", "true"):
            _toggle(spark, conf)
            counts[conf] = (
                spark.read.format("deltalog").load(dl)
                .filter("n_regionkey = 2").count(),
                spark.read.format("iceberglog").load(il)
                .filter("n_regionkey = 2").count(),
            )
        assert counts["false"] == counts["true"] == (5, 5)


_BARE_DRIVER = """
import sys
from pyspark.sql import SparkSession

# The driver's environment: stock builder, NO engine conf.
spark = SparkSession.builder.master("local[4]").appName("bare-gate").getOrCreate()
from etl_processing_scd1_spark import registry

Q = {**registry.QUERIES, **registry.EXTRA_QUERIES}
failures = []
for name in sys.argv[1:]:
    try:
        rows = Q[name](spark, "@SF_DIR@").collect()
        print(f"BARE {name} rows={len(rows)}", flush=True)
    except Exception as e:  # noqa: BLE001 - report, keep going
        failures.append(name)
        print(f"BARE {name} ERROR {type(e).__name__}: {e}", flush=True)
spark.stop()
sys.exit(1 if failures else 0)
"""


def test_datasource_queries_on_bare_session():
    """The regression test for CORRECTNESS_r09's two red rows: every
    DataSource-format registry query must run on a session with NO
    ENGINE_CONF — the exact session the driver builds."""
    proc = subprocess.run(
        [sys.executable, "-c", _BARE_DRIVER.replace("@SF_DIR@", SF001),
         *DATASOURCE_QUERIES],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    report = "\n".join(
        line for line in proc.stdout.splitlines() if line.startswith("BARE")
    )
    assert proc.returncode == 0, (
        f"bare-session run failed:\n{report}\n{proc.stderr[-2000:]}"
    )
    for name in DATASOURCE_QUERIES:
        assert f"BARE {name} rows=" in report, report


def test_gate_covers_every_datasource_format_query():
    """Structural pin: DATASOURCE_QUERIES must list every registry
    function whose body reads/writes format("deltalog"/"iceberglog"),
    so a new lakehouse query can't land outside the bare gate."""
    import re

    reg_dir = os.path.join(REPO, "etl_processing_scd1_spark", "registry")
    found = set()
    for fn in os.listdir(reg_dir):
        if not fn.endswith(".py"):
            continue
        src = open(os.path.join(reg_dir, fn)).read()
        for chunk in re.split(r"\ndef ", src)[1:]:
            if re.search(r"""format\((['"])(deltalog|iceberglog)\1\)""", chunk):
                found.add(chunk.split("(")[0].strip())
    assert found == set(DATASOURCE_QUERIES), (
        f"update DATASOURCE_QUERIES: registry uses the formats in "
        f"{sorted(found)}"
    )
