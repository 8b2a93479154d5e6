"""Sink + CLI tests (K1-K3, F1-F2)."""

from __future__ import annotations

import textwrap

from bearysta_spark import sinks
from bearysta_spark.cli import main as cli_main


def test_to_csv_and_pivot_string(spark):
    df = spark.createDataFrame(
        [("erf", 1.23456, 100.0), ("exp", 2.5, 0.004)], ["Function", "Ratio", "Time"]
    )
    csv = sinks.to_csv(df)
    assert "Function,Ratio,Time" in csv
    assert "1.235" in csv  # %.3f float format
    s = sinks.pivot_string(df, number_format=2)
    # order-of-magnitude precision: 100.0 → '100', 0.004 → '0.0'-ish digits
    assert "100" in s and "Function" in s
    s2 = sinks.pivot_string(df, number_format="{:.1f}")
    assert "1.2" in s2


def test_color_bins():
    out = sinks.color_bins([0.5, 1.5, None, 3.0], [1.0, 2.0], ["red", "yellow", "green"])
    assert out == ["red", "yellow", "#ffffff", "green"]


def test_html_sink(spark, tmp_path):
    df = spark.createDataFrame([("a", 1.0)], ["k", "v"])
    html = sinks.to_html(
        [((), df)],
        indicator=[{"column": "v", "ranges": [0.5], "colors": ["#f00", "#0f0"]}],
    )
    assert "<table" in html and "background-color" in html


def test_cli_end_to_end(tmp_path, capsys, spark):
    data = tmp_path / "d.csv"
    data.write_text("Prefix,Time\na,1.0\na,3.0\nb,4.0\n")
    cfg = tmp_path / "r.yml"
    cfg.write_text(
        textwrap.dedent(
            f"""\
            input:
                path: '{data}'
                format: csv
            aggregation: mean
            series: [Prefix]
            values: [Time]
            number-format: 2
            """
        )
    )
    rc = cli_main([str(cfg), "--csv", "-", "--pretty-print"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "2.000" in out  # csv float format of mean(1,3)
    assert "Prefix" in out


def test_cli_releases_engine_caches(tmp_path, capsys, spark):
    from bearysta_spark.cachescope import release_scoped_caches

    def persistent():
        return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}

    data = tmp_path / "d.out"
    data.write_text("@ noise\na,1.0\nb,4.0\n")
    cfg = tmp_path / "r.yml"
    cfg.write_text(
        textwrap.dedent(
            f"""\
            input:
                path: '{data}'
                format: csv
                csv-header: Prefix,Time
                filter: {{'^@': drop, '': null}}
            aggregation: mean
            series: [Prefix]
            values: [Time]
            """
        )
    )
    release_scoped_caches()
    before = persistent()
    # the line filter makes the scan cache its filtered lines
    assert cli_main([str(cfg), "--csv", "-"]) == 0
    assert "4.000" in capsys.readouterr().out
    assert persistent() == before


def test_to_parquet_partitioned(spark, tmp_path):
    import os

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("b", 1, 2.0), ("a", 2, 3.0)], ["k", "part", "v"]
    )
    out = str(tmp_path / "out")
    sinks.to_parquet(df, out, partition_by=["part"])
    assert os.path.isdir(f"{out}/part=1")
    back = spark.read.parquet(out)
    assert back.count() == 3
    # partition pruning: only one directory read
    pruned = back.filter(back.part == 2)
    assert pruned.count() == 1


def test_orc_roundtrip_with_recipe_scan(spark, tmp_path):
    from bearysta_spark.engine.sources import scan_orc

    df = spark.createDataFrame(
        [("a", 1, 1.5), ("b", 2, 2.5), ("a", 3, 3.5)], ["k", "i", "v"]
    )
    out = str(tmp_path / "orc_out")
    sinks.to_orc(df, out, partition_by=["k"])
    back = scan_orc(spark, [out])
    assert back.count() == 3
    assert {r["k"] for r in back.select("k").collect()} == {"a", "b"}
    # lineage columns attached like every other scan
    assert {"Path", "File", "Directory"} <= set(back.columns)
    # predicate pushdown reaches the ORC scan
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.filter(back.i == 2).explain("formatted")
    assert "PushedFilters" in buf.getvalue()


def test_fmt_number_matches_reference_precision():
    # parity with aggregate.py:935-955 get_precision/apply_precision:
    # decimals = max(precision - int(log10(num)), 0); log(0) -> 0 decimals
    import math as _math

    from bearysta_spark.sinks import _fmt_number

    def ref_fmt(x, precision):
        try:
            order = _math.log10(x)
            decimals = max(precision - int(order), 0)
        except (ValueError, OverflowError):
            decimals = 0
        return f"{x:.{decimals}f}"

    for v in (123.0, 123.456, 1.5, 0.5, 0.0517, 9999.9, 1.0, 7e-4):
        for p in (0, 1, 3):
            assert _fmt_number(v, p) == ref_fmt(v, p), (v, p)
    assert _fmt_number(0.0, 3) == "0"
    assert _fmt_number(None, 3) == ""


def test_cli_excel_flag_gated(tmp_path, spark):
    # --excel wires the K4 sink; without openpyxl it must fail with the
    # actionable NotImplementedError, not silently skip
    data = tmp_path / "d.csv"
    data.write_text("Prefix,Time\na,1.0\n")
    cfg = tmp_path / "r.yml"
    cfg.write_text(
        textwrap.dedent(
            f"""\
            input:
                path: '{data}'
                format: csv
            aggregation: mean
            series: [Prefix]
            values: [Time]
            """
        )
    )
    try:
        import openpyxl  # noqa: F401

        has_xl = True
    except ImportError:
        has_xl = False
    if has_xl:
        assert cli_main([str(cfg), "--excel", str(tmp_path / "o.xlsx")]) == 0
        assert (tmp_path / "o.xlsx").exists()
    else:
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="openpyxl"):
            cli_main([str(cfg), "--excel", str(tmp_path / "o.xlsx")])


def test_cli_excel_roundtrip_workbook_shape(tmp_path, spark):
    # e2e: recipe → --excel --raw workbook → openpyxl read-back. Locks
    # the reference workbook layout (aggregate.py:792-833): 'summary'
    # holds variant header + pivot with indicator fills, 'data' holds
    # the aggregated frame ALWAYS, 'raw' the normalized frame under
    # --raw. (Skips where openpyxl is absent — the gated-error path is
    # covered by test_cli_excel_flag_gated.)
    openpyxl = __import__("pytest").importorskip("openpyxl")

    data = tmp_path / "d.csv"
    data.write_text(
        "Prefix,Mode,Time\na,x,1.0\na,x,3.0\nb,x,4.0\na,y,2.0\nb,y,6.0\n"
    )
    cfg = tmp_path / "r.yml"
    cfg.write_text(
        textwrap.dedent(
            f"""\
            input:
                path: '{data}'
                format: csv
            aggregation: mean
            axis: [Prefix]
            variants: [Mode]
            values: [Time]
            indicator:
            - column: Time
              ranges: [2.5]
              colors: ['#ff0000', '#00ff00']
            """
        )
    )
    out = tmp_path / "o.xlsx"
    assert cli_main([str(cfg), "--excel", str(out), "--raw"]) == 0

    wb = openpyxl.load_workbook(str(out))
    assert {"summary", "data", "raw"} <= set(wb.sheetnames)

    # summary: first variant header (Mode / x), then the pivot below it
    sm = wb["summary"]
    cells = {
        (c.row, c.column): c.value
        for row in sm.iter_rows()
        for c in row
        if c.value is not None
    }
    vals = set(cells.values())
    assert "Mode" in vals and "x" in vals and "y" in vals  # variant headers
    assert "Prefix" in vals  # pivot axis header
    # mean(1,3)=2.0 for (a,x); mean over y: a→2.0, b→6.0
    assert 2.0 in vals and 6.0 in vals
    # indicator fill applied to at least one Time cell (color binning)
    fills = {
        c.fill.start_color.rgb
        for row in sm.iter_rows()
        for c in row
        if c.fill is not None and c.fill.fill_type == "solid"
    }
    assert any(f and f.endswith("FF0000") for f in fills) or any(
        f and f.endswith("00FF00") for f in fills
    )

    # data: the aggregated frame (one row per Prefix×Mode), written even
    # without --raw semantics applying to it
    dt = wb["data"]
    header = [c.value for c in next(dt.iter_rows())]
    assert "Time" in header
    assert dt.max_row - 1 == 4  # 4 aggregated groups

    # raw: the normalized pre-aggregation frame (5 input rows)
    rw = wb["raw"]
    assert rw.max_row - 1 == 5


def test_to_excel_data_sheet_written_without_raw(tmp_path, spark):
    openpyxl = __import__("pytest").importorskip("openpyxl")
    df = spark.createDataFrame([("a", 1.0)], ["k", "v"])
    out = tmp_path / "w.xlsx"
    sinks.to_excel([((), df)], str(out), data_df=df)
    wb = openpyxl.load_workbook(str(out))
    assert "data" in wb.sheetnames and "raw" not in wb.sheetnames


def test_jsonl_roundtrip_with_scan_json(spark, tmp_path):
    from bearysta_spark.engine.sources import scan_json

    df = spark.createDataFrame(
        [("a", 1, 1.5), ("b", 2, 2.5), ("a", 3, 3.5)], ["k", "i", "v"]
    )
    out = str(tmp_path / "jl")
    sinks.to_jsonl(df, out, partition_by=["k"])
    import os

    assert os.path.isdir(f"{out}/k=a")
    back = scan_json(spark, [out])
    assert back.count() == 3
    assert {"Path", "File", "Directory"} <= set(back.columns)


def test_write_corpus_shards_partitions_and_manifest(spark, tmp_path):
    from bearysta_spark.sinks import write_corpus
    from pyspark.sql import functions as F

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", "source", "n_chars")
    )
    n_docs = d.count()
    out = str(tmp_path / "corpus")
    manifest = write_corpus(
        d,
        out,
        partition_by=["source"],
        cluster_by=["n_chars"],
        max_records_per_file=10,
    )
    rows = manifest.collect()
    # every shard respects the record bound
    assert all(r["n_rows"] <= 10 for r in rows)
    # manifest totals equal the input
    assert sum(r["n_rows"] for r in rows) == n_docs
    # hive partition dirs exist and readers prune on them
    back = spark.read.parquet(out)
    assert back.count() == n_docs
    assert sorted(back.columns) == sorted(d.columns)
    one_src = back.filter(F.col("source") == "src_00")
    plan = one_src._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or one_src.count() == d.filter(
        F.col("source") == "src_00"
    ).count()
    # clustering: within each shard, n_chars is sorted (file min/max
    # stats are tight) — read each file directly, preserving row order
    import glob as _glob

    import pyarrow.parquet as pq

    files = _glob.glob(out + "/*/*.parquet")
    assert files, "no shard files written"
    for f in files:
        vals = pq.read_table(f, columns=["n_chars"])["n_chars"].to_pylist()
        assert vals == sorted(vals), f
