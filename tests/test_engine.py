"""Recipe-engine tests over reference-shaped fixtures (FIXTURES.md §A).

Each fixture reconstructs a runner-output tree like the reference's
example recipes consume; recipes are written inline (same YAML surface,
our own content) and validated against hand-computed expectations.
"""

from __future__ import annotations

import sqlite3
import textwrap

import pytest
import yaml
from pyspark.sql import functions as F

from bearysta_spark.engine import Recipe, RecipeEngine
from bearysta_spark.engine.core import infer_numeric
from bearysta_spark.engine.recipe import RecipeError


def write(p, content):
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(textwrap.dedent(content))
    return str(p)


# ---------------------------------------------------------------------------
# A3-style: log-to-CSV regex extraction + derived columns + ratio_of
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bs_tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("runs")
    for arch, prefix, vals in [
        ("skl", "native", [("Native-C-VML", 1000, 100.0), ("Native-C-VML", 2000, 80.0)]),
        ("skl", "intelpython3", [("Numba@jit-loop", 1000, 50.0), ("Numba@jit-loop", 2000, 20.0)]),
    ]:
        lines = ["Using backend X"]
        for impl, size, mops in vals:
            lines.append(f"ERF: {impl}: Size: {size} MOPS: {mops} {prefix}")
        write(root / f"bs_{arch}" / prefix / "run.out", "\n".join(lines) + "\n")
    return root


def test_blackscholes_like_recipe(spark, bs_tree):
    recipe = {
        "input": {
            "path": str(bs_tree / "bs_*" / "*" / "*.out"),
            "format": "csv",
            "csv-header": "Implementation,Size,MOPS,Prefix",
            "filter": {
                r"ERF: ([^:]+): Size: ([0-9]+) MOPS: ([0-9.]+) (\S+)": r"\1,\2,\3,\4",
                "^Using": "drop",
            },
        },
        "precomputed": {
            "Vendor": "'Native-C' if row['Prefix'] == 'native' else row['Prefix']",
            "Ratio": "ratio_of('MOPS', Vendor='Native-C')",
        },
        "aggregation": "mean",
        "series": ["Vendor"],
        "axis": ["Size"],
        "values": ["MOPS", "Ratio"],
        "higher-is-better": True,
    }
    eng = RecipeEngine(spark, recipe)
    out = eng.aggregated()
    rows = {(r["Vendor"], r["Size"]): r for r in out.collect()}
    assert rows[("Native-C", 1000)]["MOPS"] == 100.0
    assert rows[("intelpython3", 1000)]["Ratio"] == 0.5
    assert rows[("intelpython3", 2000)]["Ratio"] == 0.25
    assert rows[("Native-C", 2000)]["Ratio"] == 1.0
    # lineage columns survive (first-agg'd)
    assert rows[("Native-C", 1000)]["File"] == "run.out"


# ---------------------------------------------------------------------------
# A9-style: multi-line `append` join
# ---------------------------------------------------------------------------


def test_append_line_filter(spark, tmp_path):
    # Wrapped log lines: a continuation line (here marked '+') must
    # itself match the `append` pattern; it is glued onto the previous
    # line (with a space — reference aggregate.py:217) and the combined
    # line is then re-matched by the remaining patterns in order.
    log = write(
        tmp_path / "server.INFO.1.log",
        """\
        I 2024 stdlog sql_execute 19 foo ,"123","456"}
        I 2024 stdlog sql_execute 20 bar
        + ,"777","888"}
        garbage line
        """,
    )
    recipe = {
        "input": {
            "path": log,
            "format": "csv",
            "csv-header": "op,queryID,exec_ms,total_ms",
            "filter": {
                r"^\+": "append",
                r"^.+ stdlog sql_execute ([0-9]+) .+,\"(\d+)\",\"(\d+)\"\}": r"sql_execute,\1,\2,\3",
                "^(?!sql_)": "drop",
            },
        },
        "aggregation": "mean",
        "axis": ["queryID"],
        "values": ["exec_ms", "total_ms"],
    }
    out = RecipeEngine(spark, recipe).aggregated()
    rows = {r["queryID"]: r for r in out.collect()}
    assert rows[19]["exec_ms"] == 123.0
    assert rows[20]["exec_ms"] == 777.0  # re-joined across the wrap
    assert rows[20]["total_ms"] == 888.0


# ---------------------------------------------------------------------------
# A1-style: headered CSV + noise + sidecar metadata
# ---------------------------------------------------------------------------


def test_sidecar_and_noise(spark, tmp_path):
    out_file = write(
        tmp_path / "r" / "sklearn.out",
        """\
        @ Package 'daal4py' was not found
        prefix,function,threads,time
        py,KMeans.fit,1,2.0
        py,KMeans.fit,1,4.0
        py,KMeans.predict,Serial,1.0
        """,
    )
    write(tmp_path / "r" / "sklearn.out.meta", "env_name: test-env\nhostname: h1\n")
    recipe = {
        "input": {
            "path": str(tmp_path / "r" / "*.out"),
            "format": "csv",
            # reference-style: explicit drops + catch-all keep (a line
            # matched by no pattern is dropped, aggregate.py:205-231)
            "filter": {"^@": "drop", "": None},
        },
        "rename": {"function": "Function"},
        "precomputed": {
            "Mode": "'Serial' if row['threads'] == 'Serial' or row['threads'] == 1 else 'Parallel'",
        },
        "aggregation": "median",
        "series": ["prefix"],
        "axis": ["Function"],
        "values": ["time"],
    }
    out = RecipeEngine(spark, recipe).aggregated()
    rows = {r["Function"]: r for r in out.collect()}
    assert rows["KMeans.fit"]["time"] == 3.0  # exact median
    assert rows["KMeans.fit"]["env_name"] == "test-env"
    assert rows["KMeans.predict"]["Mode"] == "Serial"
    # threads column had mixed int/str → stays string
    assert rows["KMeans.fit"]["Mode"] == "Serial"


# ---------------------------------------------------------------------------
# A2-style: header injection incl. sniffing a real header row
# ---------------------------------------------------------------------------


def test_header_injection_and_sniff(spark, tmp_path):
    write(tmp_path / "native1.csv", "1,skl,native,5.5\n2,skl,native,6.5\n")
    write(tmp_path / "native2.csv", "Batch, Arch, Prefix, Time\n3,skl,native,7.5\n")
    recipe = {
        "input": {
            "path": str(tmp_path / "native*.csv"),
            "format": "csv",
            "csv-header": "Batch,Arch,Prefix,Time",
        },
        "aggregation": "max",
        "series": ["Prefix"],
        "values": ["Time"],
    }
    out = RecipeEngine(spark, recipe).aggregated()
    r = out.collect()[0]
    assert r["Time"] == 7.5
    assert r["Prefix"] == "native"


# ---------------------------------------------------------------------------
# A8-style: pack (melt)
# ---------------------------------------------------------------------------


def test_pack_recipe(spark, tmp_path):
    write(
        tmp_path / "svm.csv",
        "Prefix,rows,features,fit,predict\npy,1000,50,10.0,1.0\npy,2000,50,20.0,2.0\n",
    )
    recipe = {
        "input": {"path": str(tmp_path / "svm.csv"), "format": "csv"},
        "precomputed": {"Size": "'{}x{}'.format(int(row['rows']), int(row['features']))"},
        "pack": [{"columns": ["fit", "predict"], "name": "Function", "value": "Time"}],
        "aggregation": "min",
        "series": ["Prefix"],
        "axis": ["Function", "Size"],
        "values": ["Time"],
    }
    out = RecipeEngine(spark, recipe).aggregated()
    rows = {(r["Function"], r["Size"]): r["Time"] for r in out.collect()}
    assert rows[("fit", "1000x50")] == 10.0
    assert rows[("predict", "2000x50")] == 2.0


def test_unpack_recipe(spark, tmp_path):
    write(
        tmp_path / "long.csv",
        "k,metric,v\na,min,1.0\na,max,9.0\nb,min,2.0\nb,max,8.0\n",
    )
    recipe = {
        "input": {"path": str(tmp_path / "long.csv"), "format": "csv"},
        "unpack": [{"name": "metric", "value": "v"}],
        "aggregation": "mean",
        "series": ["k"],
        "values": ["min", "max"],
    }
    out = RecipeEngine(spark, recipe).aggregated()
    rows = {r["k"]: r for r in out.collect()}
    assert rows["a"]["min"] == 1.0 and rows["a"]["max"] == 9.0


# ---------------------------------------------------------------------------
# S10: recursive recipes + geomean + File override
# ---------------------------------------------------------------------------


def test_recursive_recipe_dag(spark, tmp_path):
    write(tmp_path / "a_data.csv", "Function,Ratio\nerf,2.0\nexp,8.0\n")
    write(tmp_path / "b_data.csv", "Function,Ratio\nerf,4.0\nexp,16.0\n")
    write(
        tmp_path / "child_a.yml",
        f"""\
        input:
            path: '{tmp_path}/a_data.csv'
            format: csv
        aggregation: mean
        axis: [Function]
        values: [Ratio]
        """,
    )
    write(
        tmp_path / "child_b.yml",
        f"""\
        input:
            path: '{tmp_path}/b_data.csv'
            format: csv
        aggregation: mean
        axis: [Function]
        values: [Ratio]
        """,
    )
    parent = write(
        tmp_path / "summary.yml",
        """\
        input:
            config: [child_a.yml, child_b.yml]
        aggregation: geomean
        series: [File]
        values: [Ratio]
        """,
    )
    out = RecipeEngine(spark, parent).aggregated()
    rows = {r["File"]: r["Ratio"] for r in out.collect()}
    assert abs(rows["child_a"] - 4.0) < 1e-9  # geomean(2,8)
    assert abs(rows["child_b"] - 8.0) < 1e-9  # geomean(4,16)


def test_recipe_cycle_detection(spark, tmp_path):
    a = write(
        tmp_path / "a.yml",
        "input:\n    config: [b.yml]\naggregation: mean\nvalues: [x]\n",
    )
    write(
        tmp_path / "b.yml",
        "input:\n    config: [a.yml]\naggregation: mean\nvalues: [x]\n",
    )
    with pytest.raises(RecipeError, match="cycle"):
        RecipeEngine(spark, a).aggregated()


# ---------------------------------------------------------------------------
# drop-column pattern (boolean precompute + filter-in)
# ---------------------------------------------------------------------------


def test_drop_pattern(spark, tmp_path):
    write(
        tmp_path / "d.csv",
        "Prefix,Time\nnative,1.0\npy,2.0\npy,3.0\n",
    )
    recipe = {
        "input": {"path": str(tmp_path / "d.csv"), "format": "csv"},
        "precomputed": {"drop": "row['Prefix'] == 'native'"},
        "filter-in": {"drop": [False]},
        "aggregation": "sum",
        "series": ["Prefix"],
        "values": ["Time"],
    }
    out = RecipeEngine(spark, recipe).aggregated()
    rows = {r["Prefix"]: r["Time"] for r in out.collect()}
    assert rows == {"py": 5.0}


# ---------------------------------------------------------------------------
# A11: sqlite input
# ---------------------------------------------------------------------------


def test_sqlite_input(spark, tmp_path):
    db_path = str(tmp_path / "runs.db")
    db = sqlite3.connect(db_path)
    db.execute("CREATE TABLE results (Prefix TEXT, Time REAL)")
    db.executemany(
        "INSERT INTO results VALUES (?, ?)", [("a", 1.0), ("a", 3.0), ("b", 5.0)]
    )
    db.commit()
    db.close()
    recipe = {
        "input": {"path": db_path, "format": "sql", "table-name": "results"},
        "aggregation": "mean",
        "series": ["Prefix"],
        "values": ["Time"],
    }
    out = RecipeEngine(spark, recipe).aggregated()
    rows = {r["Prefix"]: r["Time"] for r in out.collect()}
    assert rows == {"a": 2.0, "b": 5.0}


# ---------------------------------------------------------------------------
# error parity + inference unit tests
# ---------------------------------------------------------------------------


def test_no_matching_files_error(spark, tmp_path):
    recipe = {
        "input": {"path": str(tmp_path / "nope*.csv"), "format": "csv"},
        "aggregation": "mean",
        "values": ["x"],
    }
    with pytest.raises(RecipeError, match="No matching files"):
        RecipeEngine(spark, recipe).aggregated()


def test_missing_dim_column_error(spark, tmp_path):
    write(tmp_path / "x.csv", "a,b\n1,2\n")
    recipe = {
        "input": {"path": str(tmp_path / "x.csv"), "format": "csv"},
        "aggregation": "mean",
        "series": ["NotThere"],
        "values": ["a"],
    }
    with pytest.raises(RecipeError, match="NotThere"):
        RecipeEngine(spark, recipe).aggregated()


def test_non_numeric_values_error(spark, tmp_path):
    write(tmp_path / "y.csv", "a,b\nhello,2\nworld,3\n")
    recipe = {
        "input": {"path": str(tmp_path / "y.csv"), "format": "csv"},
        "aggregation": "mean",
        "values": ["a"],
    }
    with pytest.raises(RecipeError, match="non-numerical"):
        RecipeEngine(spark, recipe).aggregated()


def test_infer_numeric(spark):
    df = spark.createDataFrame(
        [("1", "1.5", "x", "7", "NaN"), ("2", "2", "3", "8", "2.5")],
        ["ints", "floats", "mixed", "ints2", "with_nan"],
    )
    out = infer_numeric(df)
    t = dict(out.dtypes)
    assert t["ints"] == "bigint"
    assert t["floats"] == "double"
    assert t["mixed"] == "string"
    assert t["ints2"] == "bigint"
    assert t["with_nan"] == "double"  # 'NaN' parses as double NaN


def test_variants_pivot_tables(spark, tmp_path):
    write(
        tmp_path / "v.csv",
        "Arch,Prefix,Function,Time\n"
        "icx,a,erf,1.0\nicx,b,erf,2.0\nicx,a,exp,3.0\n"
        "spr,a,erf,4.0\nspr,b,erf,8.0\n",
    )
    recipe = {
        "input": {"path": str(tmp_path / "v.csv"), "format": "csv"},
        "aggregation": "mean",
        "series": ["Prefix"],
        "axis": ["Function"],
        "variants": ["Arch"],
        "values": ["Time"],
    }
    eng = RecipeEngine(spark, recipe)
    tables = list(eng.pivot_tables())
    assert [t[0] for t in tables] == [("icx",), ("spr",)]
    icx = {r["Function"]: r for r in tables[0][1].collect()}
    assert icx["erf"]["a"] == 1.0 and icx["erf"]["b"] == 2.0
    assert icx["exp"]["b"] is None  # missing combo → empty cell
    spr = {r["Function"]: r for r in tables[1][1].collect()}
    assert spr["erf"]["b"] == 8.0


def test_multiple_pack_specs(spark, tmp_path):
    write(tmp_path / "m.csv", "k,f1,f2,g1\nA,1.0,2.0,3.0\n")
    recipe = {
        "input": {"path": str(tmp_path / "m.csv"), "format": "csv"},
        "pack": [
            {"columns": ["f1", "f2"], "name": "F", "value": "fv"},
            {"columns": ["g1"], "name": "G", "value": "gv"},
        ],
        "aggregation": "sum",
        "series": ["k"],
        "values": ["fv", "gv"],
    }
    out = RecipeEngine(spark, recipe).aggregated()
    r = out.collect()[0]
    assert r["fv"] == 3.0 and r["gv"] == 6.0  # gv doubled by the f-melt fan-out


def test_json_input(spark, tmp_path):
    write(
        tmp_path / "runs.jsonl",
        '{"Prefix": "a", "Time": 1.0}\n{"Prefix": "a", "Time": 3.0}\n{"Prefix": "b", "Time": 5.0}\n',
    )
    recipe = {
        "input": {"path": str(tmp_path / "runs.jsonl"), "format": "json"},
        "aggregation": "mean",
        "series": ["Prefix"],
        "values": ["Time"],
    }
    out = RecipeEngine(spark, recipe).aggregated()
    rows = {r["Prefix"]: r["Time"] for r in out.collect()}
    assert rows == {"a": 2.0, "b": 5.0}
    assert out.select("File").first()[0] == "runs.jsonl"


def test_sqlite_rejects_hostile_table_name(spark, tmp_path):
    from bearysta_spark.engine.sources import RecipeError, scan_sqlite

    db_path = str(tmp_path / "x.db")
    sqlite3.connect(db_path).close()
    with pytest.raises(RecipeError, match="invalid sqlite table"):
        scan_sqlite(spark, [db_path], "t; DROP TABLE t--")


# ---------------------------------------------------------------------------
# P5: general tuple merge-back (ref aggregate.py:500-506)
# ---------------------------------------------------------------------------


def test_tuple_merge_back_precompute(spark, tmp_path):
    csv = write(
        tmp_path / "perf.csv",
        """\
        Vendor,Size,MOPS
        a,1000,100.0
        a,2000,50.0
        b,1000,10.0
        """,
    )
    recipe = {
        "input": {"path": csv, "format": "csv"},
        "precomputed": {
            # frame lambda returning (aggregated_frame, origin_col): the
            # reference renames origin→col and left-merges on shared cols
            "VendorMean": "(df.groupby('Vendor', as_index=False).agg({'MOPS': 'mean'}), 'MOPS')",
        },
        "aggregation": "mean",
        "series": ["Vendor"],
        "axis": ["Size"],
        "values": ["MOPS", "VendorMean"],
    }
    eng = RecipeEngine(spark, recipe, allow_python=True)
    rows = {(r["Vendor"], r["Size"]): r for r in eng.aggregated().collect()}
    assert rows[("a", 1000)]["VendorMean"] == 75.0
    assert rows[("a", 2000)]["VendorMean"] == 75.0
    assert rows[("b", 1000)]["VendorMean"] == 10.0
    assert rows[("a", 1000)]["MOPS"] == 100.0


def test_tuple_merge_back_requires_allow_python(spark, tmp_path):
    csv = write(tmp_path / "p.csv", "Vendor,MOPS\na,1.0\n")
    recipe = {
        "input": {"path": csv, "format": "csv"},
        "precomputed": {
            "M": "(df.groupby('Vendor', as_index=False).agg({'MOPS': 'mean'}), 'MOPS')",
        },
        "aggregation": "mean",
        "series": ["Vendor"],
        "values": ["MOPS"],
    }
    from bearysta_spark.engine.expr import ExprCompileError

    with pytest.raises(ExprCompileError):
        RecipeEngine(spark, recipe).aggregated()


# ---------------------------------------------------------------------------
# Record-boundary splitter for large single files (SCALING.md §Scans)
# ---------------------------------------------------------------------------


def test_chunked_lines_match_wholetext(spark, tmp_path):
    from bearysta_spark.engine.sources import chunked_lines_df, filtered_lines_df

    # one "large" file with wrapped (append) lines and droppable noise,
    # tiny chunks so many records straddle chunk boundaries
    lines = []
    for i in range(400):
        lines.append(f"DATA: row {i} value {i * 7} padpadpadpadpad")
        if i % 3 == 0:
            lines.append(f"  +wrapped tail {i}")  # glued onto previous line
        if i % 5 == 0:
            lines.append("noise to drop")
    big = tmp_path / "big.log"
    big.write_text("\n".join(lines) + "\n")
    filters = {
        r"^\s+\+wrapped": "append",
        r"^DATA: (.*)": r"\1",
        "^noise": "drop",
        # re-match the glued line so appends are emitted
        r"^row .* tail \d+$": None,
    }
    whole = filtered_lines_df(spark, [str(big)], filters).collect()
    chunked = chunked_lines_df(
        spark, [str(big)], filters, chunk_mb=2048 / (1024 * 1024), overlap_lines=4
    ).collect()
    wl = [(r["line_no"], r["line"]) for r in sorted(whole, key=lambda r: r["line_no"])]
    cl = [(r["line_no"], r["line"]) for r in sorted(chunked, key=lambda r: r["line_no"])]
    assert len(wl) > 100
    assert cl == wl

    # no filters: plain line split must round-trip too
    whole2 = filtered_lines_df(spark, [str(big)], None).collect()
    chunked2 = chunked_lines_df(
        spark, [str(big)], None, chunk_mb=1024 / (1024 * 1024)
    ).collect()
    assert sorted((r["line_no"], r["line"]) for r in chunked2) == sorted(
        (r["line_no"], r["line"]) for r in whole2
    )

    # threshold routing: small files keep the wholetext path, big ones split
    routed = filtered_lines_df(
        spark, [str(big)], filters, split_files_over_mb=1024 / (1024 * 1024)
    ).collect()
    assert sorted((r["line_no"], r["line"]) for r in routed) == sorted(wl)


def test_recipe_split_large_files_equals_wholetext(spark, tmp_path):
    rows = "\n".join(f"POINT: a,{i % 7},{i * 1.5}" for i in range(3000))
    csv = write(tmp_path / "big_run.out", rows + "\n")
    base = {
        "input": {
            "path": csv,
            "format": "csv",
            "csv-header": "Vendor,Size,MOPS",
            "filter": {r"POINT: (.*)": r"\1"},
        },
        "aggregation": "mean",
        "series": ["Vendor"],
        "axis": ["Size"],
        "values": ["MOPS"],
    }
    split = {**base, "input": {**base["input"], "split-files-over-mb": 0.01}}
    plain = {(r["Vendor"], r["Size"], r["MOPS"]) for r in RecipeEngine(spark, base).aggregated().collect()}
    chunked = {(r["Vendor"], r["Size"], r["MOPS"]) for r in RecipeEngine(spark, split).aggregated().collect()}
    assert chunked == plain
    assert len(plain) == 7


# ---------------------------------------------------------------------------
# S7 sidecar semantics: per-file `.meta` constants joined on Path
# ---------------------------------------------------------------------------


def _scan_rows(spark, files):
    from bearysta_spark.engine.sources import scan_csv

    return {r["File"]: r.asDict() for r in scan_csv(spark, [str(f) for f in files]).collect()}


def test_sidecar_disjoint_keys_and_missing_sidecar_give_nulls(spark, tmp_path):
    a = write(tmp_path / "a.csv", "x\n1\n")
    b = write(tmp_path / "b.csv", "x\n2\n")
    c = write(tmp_path / "c.csv", "x\n3\n")
    write(tmp_path / "a.csv.meta", "only_a: va\n")
    write(tmp_path / "b.csv.meta", "only_b: vb\n")
    rows = _scan_rows(spark, [a, b, c])
    assert (rows["a.csv"]["only_a"], rows["a.csv"]["only_b"]) == ("va", None)
    assert (rows["b.csv"]["only_a"], rows["b.csv"]["only_b"]) == (None, "vb")
    # c.csv has no sidecar at all
    assert (rows["c.csv"]["only_a"], rows["c.csv"]["only_b"]) == (None, None)


def test_sidecar_key_overwrites_same_named_csv_column(spark, tmp_path):
    a = write(tmp_path / "a.csv", "env_name,x\nfrom_csv,1\nfrom_csv,2\n")
    write(tmp_path / "a.csv.meta", "env_name: from_meta\n")
    from bearysta_spark.engine.sources import scan_csv

    out = scan_csv(spark, [a])
    assert out.columns.count("env_name") == 1
    assert [r["env_name"] for r in out.collect()] == ["from_meta", "from_meta"]


def test_sidecar_yaml_scalars_render_as_str(spark, tmp_path):
    a = write(tmp_path / "a.csv", "x\n1\n")
    write(tmp_path / "a.csv.meta", "threads: 8\nscale: 2.5\nturbo: true\n")
    row = _scan_rows(spark, [a])["a.csv"]
    assert (row["threads"], row["scale"], row["turbo"]) == ("8", "2.5", "True")


def test_sidecar_keys_with_space_and_backtick(spark, tmp_path):
    a = write(tmp_path / "a.csv", "x\n1\n")
    write(tmp_path / "a.csv.meta", "'host name': h1\n'odd`key': k1\n")
    row = _scan_rows(spark, [a])["a.csv"]
    assert (row["host name"], row["odd`key"]) == ("h1", "k1")


# ---------------------------------------------------------------------------
# numeric inference passes and the engine's cache lifetime
# ---------------------------------------------------------------------------


def _collects_during(monkeypatch, spark, fn) -> int:
    cls = type(spark.range(1))
    inner = cls.collect
    calls = []

    def counting(self):
        calls.append(1)
        return inner(self)

    with monkeypatch.context() as m:
        m.setattr(cls, "collect", counting)
        fn()
    return len(calls)


def test_no_filter_in_skips_the_third_inference_pass(spark, tmp_path, monkeypatch):
    csv = write(tmp_path / "r.csv", "name,x\nabc,1\ndef,2\n")
    base = {
        "input": {"path": csv, "format": "csv"},
        "aggregation": "sum",
        "series": ["name"],
        "values": ["x"],
    }
    keep_all = {**base, "filter-in": {"name": ["abc", "def"]}}
    without = _collects_during(monkeypatch, spark, lambda: RecipeEngine(spark, base).normalized())
    with_fi = _collects_during(monkeypatch, spark, lambda: RecipeEngine(spark, keep_all).normalized())
    assert without == with_fi - 1


def test_filter_in_dropping_non_numeric_rows_promotes_the_column(spark, tmp_path):
    csv = write(tmp_path / "r.csv", "status,x\nok,1\nok,2\nbad,n/a\n")
    recipe = {
        "input": {"path": csv, "format": "csv"},
        "filter-in": {"status": ["ok"]},
        "aggregation": "sum",
        "series": ["status"],
        "values": ["x"],
    }
    eng = RecipeEngine(spark, recipe)
    assert dict(eng.normalized().dtypes)["x"] == "double"
    assert [(r["status"], r["x"]) for r in eng.aggregated().collect()] == [("ok", 3.0)]


def test_engine_caches_are_released_by_scope_end(spark, tmp_path):
    from bearysta_spark.cachescope import release_scoped_caches

    def persistent(s):
        return {int(k) for k in s.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}

    log = write(tmp_path / "data" / "run.out", "@ noise\nA,1\nB,2\n")
    spec = {
        "input": {"path": log, "format": "csv", "csv-header": "k,v", "filter": {"^@": "drop", "": None}},
        "aggregation": "sum",
        "series": ["k"],
        "values": ["v"],
    }
    child = write(tmp_path / "child.yml", yaml.safe_dump(spec))
    # the parent scans the same log (line-filter cache) and unions the
    # child's normalized frame (union cache)
    parent = {**spec, "input": {**spec["input"], "config": [child]}}
    release_scoped_caches()
    before = persistent(spark)
    out = RecipeEngine(spark, Recipe(parent)).aggregated()
    assert sorted((r["k"], r["v"]) for r in out.collect()) == [("A", 2.0), ("B", 4.0)]
    assert persistent(spark) - before  # the scan and union caches are pinned
    release_scoped_caches()
    assert persistent(spark) == before
