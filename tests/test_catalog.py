"""Iceberg-catalog seam contract test (round-4 VERDICT task 6).

The validate CLI's metadata consumers — checkpoint resume / change detection,
metadata-backed verdict row counts, snapshot lineage, freshness ranges — run
against the ``lyra_spark.io.TableCatalog`` INTERFACE. No Iceberg jars exist
in this sandbox, so these tests drive the full CLI with a FAKE catalog and
prove every consumer reads the interface, not parquet footers: counts are
deliberately offset so a footer read would produce different numbers."""

import json
import os

import pytest

from lyra_spark import checkpoint as ckpt
from lyra_spark import io as lio


class FakeCatalog(lio.TableCatalog):
    """In-memory catalog: snapshot -> partitions -> record counts -> ts
    ranges, like Iceberg's snapshots/.partitions metadata tables."""

    def __init__(self, snapshot=None, counts=None, ranges=None):
        self.snapshot = snapshot
        self.counts = counts
        self.ranges = ranges
        self.calls = {"snapshot_id": 0, "partitions": 0, "counts": 0, "ranges": 0}

    def snapshot_id(self):
        self.calls["snapshot_id"] += 1
        return self.snapshot

    def partitions(self):
        self.calls["partitions"] += 1
        return sorted(self.counts) if self.counts is not None else None

    def partition_record_counts(self):
        self.calls["counts"] += 1
        return dict(self.counts) if self.counts is not None else None

    def partition_ts_range(self, ts_col):
        self.calls["ranges"] += 1
        return dict(self.ranges) if self.ranges is not None else None


def test_parquet_footer_catalog_matches_module_functions(spark, fixtures_sf0001):
    table = os.path.join(fixtures_sf0001, "transcripts")
    df = spark.read.parquet(table)
    cat = lio.ParquetFooterCatalog(spark, table, schema=df.schema)
    counts = cat.partition_record_counts()
    assert counts == lio.partition_row_counts(table)
    # the partition list comes from the same footer walk and equals the
    # distinct-scan listing, with no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("footer_listing", "count jobs")
    try:
        parts = cat.partitions()
    finally:
        sc.setJobGroup("", "")
    assert parts == lio.list_partitions(spark, df)
    assert sc.statusTracker().getJobIdsForGroup("footer_listing") == []
    # without the caller's schema the catalog reads it itself
    assert lio.catalog_for(spark, table).partitions() == parts
    assert cat.partition_ts_range("ts") == lio.partition_ts_range(table, "ts")
    assert cat.snapshot_id() is None  # parquet has no snapshot lineage


def _footer_listing(spark, path, col):
    """(footer listing, distinct-scan listing) of a Hive-partitioned dir."""
    df = spark.read.parquet(path)
    return lio.ParquetFooterCatalog(spark, path, col, df.schema).partitions(), lio.list_partitions(spark, df, col)


def _write_part(path, col, raw, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(path, f"{col}={raw}")
    os.makedirs(d)
    pq.write_table(pa.table({"v": pa.array(list(range(rows)), pa.int64())}), os.path.join(d, "part-0.parquet"))


def test_footer_listing_normalises_zero_padded_int_dirs(tmp_path, spark):
    """'pkey=05' holds the int value 5: the listing keys it "5", as the
    distinct scan does, so partition_scope matches its rows."""
    path = str(tmp_path / "padded")
    for raw, rows in (("05", 2), ("12", 1), ("007", 3)):
        _write_part(path, "pkey", raw, rows)
    footer, scan = _footer_listing(spark, path, "pkey")
    assert footer == scan == ["12", "5", "7"]


def test_footer_listing_unescapes_string_keys(tmp_path, spark):
    df = spark.createDataFrame([("a b:c/d", 1), ("a b:c/d", 2), ("plain", 3)], "pkey string, v int")
    path = str(tmp_path / "esc")
    df.write.partitionBy("pkey").parquet(path)
    assert any("%" in n for n in os.listdir(path))  # the dir name is URL-escaped
    footer, scan = _footer_listing(spark, path, "pkey")
    assert footer == scan == ["a b:c/d", "plain"]


def test_footer_listing_skips_zero_row_dirs(tmp_path, spark):
    """A dir whose only file holds 0 rows has no value for the scan to
    return, so the listing leaves it out too (counts still report it)."""
    path = str(tmp_path / "empty")
    _write_part(path, "part_date", "2024-01-01", 3)
    _write_part(path, "part_date", "2024-01-02", 0)
    footer, scan = _footer_listing(spark, path, "part_date")
    assert footer == scan == ["2024-01-01"]
    assert lio.partition_row_counts(path) == {"2024-01-01": 3, "2024-01-02": 0}


def test_footer_listing_falls_back_on_null_partition(tmp_path, spark):
    """A __HIVE_DEFAULT_PARTITION__ dir holds the NULL partition, which no
    dir name can key: the catalog serves no listing, and the CLI falls back
    to the distinct scan."""
    df = spark.createDataFrame([(None, 1), ("x", 2)], "pkey string, v int")
    path = str(tmp_path / "withnull")
    df.write.partitionBy("pkey").parquet(path)
    footer, scan = _footer_listing(spark, path, "pkey")
    assert footer is None
    assert scan == ["None", "x"]


def test_footer_listing_falls_back_on_nested_or_foreign_files(tmp_path, spark):
    """Spark reads rows the footer walk cannot see — a nested partition
    level, a data file not named .parquet — so the catalog serves neither
    counts nor a listing for such a layout."""
    nested = str(tmp_path / "nested")
    spark.createDataFrame([("a", 1, 5)], "pkey string, sub int, v int").write.partitionBy(
        "pkey", "sub").parquet(nested)
    assert lio.ParquetFooterCatalog(spark, nested, "pkey").partitions() is None
    foreign = str(tmp_path / "foreign")
    _write_part(foreign, "pkey", "a", 2)
    os.rename(os.path.join(foreign, "pkey=a", "part-0.parquet"), os.path.join(foreign, "pkey=a", "part-0"))
    assert lio.partition_row_counts(foreign, "pkey") is None


def test_catalog_for_dispatches_on_uri(spark):
    assert isinstance(lio.catalog_for(spark, "/some/dir"), lio.ParquetFooterCatalog)
    ic = lio.catalog_for(spark, "iceberg:prod.transcripts")
    assert isinstance(ic, lio.IcebergTableCatalog)
    assert ic.table == "prod.transcripts"


@pytest.fixture()
def table_and_counts(fixtures_sf0001):
    table = os.path.join(fixtures_sf0001, "transcripts")
    real = lio.partition_row_counts(table)
    assert real
    return table, real


def test_cli_metadata_and_freshness_come_from_the_catalog(
    tmp_path, spark, fixtures_sf0001, table_and_counts, capsys
):
    """Full CLI with an injected fake: verdict row counts carry the FAKE's
    (offset) numbers, the manifest carries the catalog snapshot id, and the
    freshness gate reads catalog ts ranges — all without touching footers."""
    from jobs.validate import main

    table, real = table_and_counts
    two = sorted(real)[:2]
    # +7 offset: a footer read could never produce these row counts
    fake_counts = {k: v + 7 for k, v in real.items()}
    real_ranges = lio.partition_ts_range(table, "ts")
    # age one partition's max ts far into the past -> stale under any bound
    aged = dict(real_ranges)
    aged[two[0]] = (aged[two[0]][0], aged[two[0]][1].replace(year=2000))
    cat = FakeCatalog(snapshot="snap-1", counts=fake_counts, ranges=aged)

    rpt = tmp_path / "report.json"
    args = [
        "--table", table,
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path),
        "--run-id", "rcat",
        "--out", str(tmp_path / "viol"),
        "--limit-partitions", "2",
        "--freshness-hours", "24",
        "--report", str(rpt),
    ]
    assert main(args, catalog=cat) == 0
    out = capsys.readouterr().out
    assert "freshness (metadata)" in out  # catalog ranges used, not a scan
    assert cat.calls["counts"] == 1 and cat.calls["ranges"] == 1

    mf = ckpt.load_manifest(str(tmp_path), "rcat")
    assert sorted(mf.records) == two  # catalog partition listing drove the loop
    for pk in two:
        assert mf.records[pk].snapshot_id == "snap-1"  # lineage from the catalog
        assert mf.records[pk].rows == fake_counts[pk]  # NOT the footer count
    rep = json.loads(rpt.read_text())
    got_rows = {p["partition"]: p["rows"] for p in rep["partitions"]}
    assert got_rows == {pk: fake_counts[pk] for pk in two}
    assert two[0] in rep["freshness_stale"]  # the aged partition flagged

    # verdict parquet row_count column also carries the catalog number
    import pyarrow.parquet as pq

    vdir = tmp_path / "rcat" / "verdicts" / f"part={two[0]}"
    vt = pq.read_table(next(vdir.glob("*.parquet")))
    assert set(vt.column("row_count").to_pylist()) == {fake_counts[two[0]]}


def test_cli_resume_and_revalidate_changed_through_catalog(
    tmp_path, spark, fixtures_sf0001, table_and_counts, capsys
):
    """Resume skips completed partitions under an unchanged catalog; a moved
    catalog record count re-queues exactly that partition; a snapshot bump
    ALONE (counts unchanged) does not — the count-first rule."""
    from jobs.validate import main

    table, real = table_and_counts
    two = sorted(real)[:2]
    cat = FakeCatalog(snapshot="snap-1", counts=dict(real))
    args = [
        "--table", table,
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path),
        "--run-id", "rres",
        "--limit-partitions", "2",
    ]
    assert main(args, catalog=cat) == 0
    mf1 = ckpt.load_manifest(str(tmp_path), "rres")
    assert sorted(mf1.records) == two
    done1 = {k: mf1.records[k].completed_at for k in two}

    # snapshot bump, counts unchanged, revalidate-changed on: nothing re-queues
    cat2 = FakeCatalog(snapshot="snap-2", counts=dict(real))
    assert main(args + ["--revalidate-changed", "--limit-partitions", "0"],
                catalog=cat2) == 0
    mf2 = ckpt.load_manifest(str(tmp_path), "rres")
    for k in two:
        assert mf2.records[k].completed_at == done1[k]

    # one partition's catalog count moves (late-arriving data): re-validated
    moved = dict(real)
    moved[two[0]] += 3
    cat3 = FakeCatalog(snapshot="snap-3", counts=moved)
    assert main(args + ["--revalidate-changed", "--limit-partitions", "1"],
                catalog=cat3) == 0
    out = capsys.readouterr().out
    assert "revalidate-changed: 1 completed" in out
    mf3 = ckpt.load_manifest(str(tmp_path), "rres")
    assert mf3.records[two[0]].completed_at != done1[two[0]]  # re-ran
    # without --out the verdict grid takes its row counts from the catalog
    # too, as with it (the previous test), so rows re-record the moved count
    assert mf3.records[two[0]].rows == moved[two[0]]
    assert mf3.records[two[0]].snapshot_id == "snap-3"
    assert mf3.records[two[1]].completed_at == done1[two[1]]  # untouched
