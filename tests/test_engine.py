"""Recipe-engine tests over reference-shaped fixtures (FIXTURES.md §A).

Each fixture reconstructs a runner-output tree like the reference's
example recipes consume; recipes are written inline (same YAML surface,
our own content) and validated against hand-computed expectations.
"""

from __future__ import annotations

import json
import math
import sqlite3
import textwrap

import pytest
import yaml
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from bearysta_spark.engine import Recipe, RecipeEngine
from bearysta_spark.engine.core import infer_numeric
from bearysta_spark.engine.recipe import RecipeError
from bearysta_spark.session import local_frame


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


@pytest.mark.parametrize(
    "name", ["ratio_of_inv", "ratio_diff_inv", "percent_of_inv", "percent_diff_inv"]
)
def test_inverted_ratio_precompute(spark, tmp_path, name):
    # a *_inv precompute is its base operator with invert=True
    write(
        tmp_path / "d.csv",
        "Vendor,Size,MOPS\nref,1000,100.0\nfast,1000,50.0\nref,2000,80.0\nfast,2000,20.0\n",
    )
    base = name.removesuffix("_inv")
    recipe = {
        "input": {"path": str(tmp_path / "d.csv"), "format": "csv"},
        "precomputed": {
            "Inv": f"{name}('MOPS', Vendor='ref')",
            "Base": f"{base}('MOPS', Vendor='ref', invert=True)",
        },
        "aggregation": "mean",
        "series": ["Vendor"],
        "axis": ["Size"],
        "values": ["Inv", "Base"],
    }
    rows = RecipeEngine(spark, recipe).aggregated().collect()
    assert len(rows) == 4
    assert all(r["Inv"] is not None and r["Inv"] == r["Base"] for r in rows)
    fast = {r["Size"]: r["Inv"] for r in rows if r["Vendor"] == "fast"}
    scale, offset = {
        "ratio_of": (1, 0),
        "ratio_diff": (1, -1),
        "percent_of": (100, 0),
        "percent_diff": (100, -1),
    }[base]
    assert fast == {1000: (2.0 + offset) * scale, 2000: (4.0 + offset) * scale}


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
        [
            ("1", "1.5", "x", "7", "NaN", "1", "-nan", "99999999999999999999", "-9223372036854775808"),
            ("2", "2", "3", "8", "2.5", "4", " +NaN", "1", "9223372036854775807"),
        ],
        ["ints", "floats", "mixed", "ints2", "with_nan", "odd`key", "signed_nan", "big", "longs"],
    )
    out = infer_numeric(df)
    t = dict(out.dtypes)
    assert t["ints"] == "bigint"
    assert t["floats"] == "double"
    assert t["mixed"] == "string"
    assert t["ints2"] == "bigint"
    assert t["with_nan"] == "double"  # 'NaN' parses as double NaN
    # a backtick in the name (a sidecar key or CSV header can carry one)
    assert t["odd`key"] == "bigint"
    # a signed NaN is NaN, and an integer a long cannot hold makes the
    # column double, as in pandas
    assert (t["signed_nan"], t["big"], t["longs"]) == ("double", "double", "bigint")
    rows = out.collect()
    assert [r["odd`key"] for r in rows] == [1, 4]
    assert all(math.isnan(r["signed_nan"]) for r in rows)
    assert [r["big"] for r in rows] == [1e20, 1.0]
    assert [r["longs"] for r in rows] == [-(2**63), 2**63 - 1]


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


def test_dotted_dimension_names(spark, tmp_path, caplog):
    # series, axis, variant and value columns all carry dots: every
    # reference to them must be a quoted name, not a struct path
    write(
        tmp_path / "d.csv",
        "Algo.name,n.rows,Arch.id,Time.s\n"
        "ref,1000,icx,2.0\nfast,1000,icx,1.0\n"
        "ref,2000,icx,4.0\nfast,2000,icx,1.0\n"
        "ref,1000,spr,1.0\nfast,1000,spr,2.0\n",
    )
    recipe = {
        "input": {"path": str(tmp_path / "d.csv"), "format": "csv"},
        # a base column that is no identifier is named through a `**`
        # dict literal
        "precomputed": {"Speedup": "ratio_of('Time.s', **{'Algo.name': 'ref'})"},
        "aggregation": "mean",
        "series": ["Algo.name"],
        "axis": ["n.rows"],
        "variants": ["Arch.id"],
        "values": ["Time.s", "Speedup"],
        "expected": ["fast", "ref", "slow"],
    }
    eng = RecipeEngine(spark, recipe)
    with caplog.at_level("WARNING"):
        out = eng.aggregated()
    rows = {(r["Algo.name"], r["n.rows"], r["Arch.id"]): r for r in out.collect()}
    assert rows[("fast", 1000, "icx")]["Time.s"] == 1.0
    assert rows[("fast", 1000, "icx")]["Speedup"] == 0.5
    assert rows[("fast", 2000, "icx")]["Speedup"] == 0.25
    assert rows[("fast", 1000, "spr")]["Speedup"] == 2.0
    # expected: one null row per (axis, variants) group missing `slow`
    slow = {k[1:] for k, r in rows.items() if k[0] == "slow" and r["Time.s"] is None}
    assert slow == {(1000, "icx"), (2000, "icx"), (1000, "spr")}
    # ordering check: only spr runs ref faster than fast
    flagged = [m for m in caplog.messages if "Unexpected performance ordering" in m]
    assert flagged and all("'Arch.id': 'spr'" in m for m in flagged)

    tables = eng.pivot_tables()
    assert [t[0] for t in tables] == [("icx",), ("spr",)]
    icx = {r["n.rows"]: r for r in tables[0][1].collect()}
    assert icx[2000]["fast_Time.s"] == 1.0 and icx[2000]["ref_Speedup"] == 1.0
    assert icx[2000]["slow_Time.s"] is None


def test_aggregated_out_columns_logged_only_at_debug(spark, tmp_path, caplog, jobs_during):
    # A5: the distinct-count job exists only to feed logger.debug, so it
    # runs exactly when the engine logger is enabled for DEBUG
    write(tmp_path / "d.csv", "Algo,Size,Time,Host\na,1,2.0,h1\na,1,4.0,h2\n")
    recipe = {
        "input": {"path": str(tmp_path / "d.csv"), "format": "csv"},
        "aggregation": "mean",
        "series": ["Algo"],
        "axis": ["Size"],
        "values": ["Time"],
    }
    eng = RecipeEngine(spark, recipe)
    df = eng.normalized()
    with caplog.at_level("WARNING", logger="bearysta_spark.engine"):
        assert jobs_during(lambda: eng.aggregated(df)) == 0
    assert not [m for m in caplog.messages if "Aggregated out column" in m]
    with caplog.at_level("DEBUG", logger="bearysta_spark.engine"):
        assert jobs_during(lambda: eng.aggregated(df)) >= 1
    assert 'Aggregated out column "Host" with ~2 unique values' in caplog.messages


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
# Byte-range line reader (SCALING.md §Scans)
# ---------------------------------------------------------------------------


def python_lines(path, filters):
    """Reference: the sequential filter over the whole file's '\\n'-split
    lines, trailing '\\r's stripped."""
    from bearysta_spark.engine.sources import _line_filter_fn_indexed

    lines = path.read_bytes().decode().split("\n")
    if lines[-1] == "":
        lines.pop()
    lines = [ln.rstrip("\r") for ln in lines]
    return [ln for _, ln in _line_filter_fn_indexed(filters)(lines)] if filters else lines


def ordered_lines(df):
    rows = sorted(df.collect(), key=lambda r: (r["path"], r["chunk_id"], r["local_idx"]))
    return [r["line"] for r in rows]


def test_lines_df_matches_python_filter(spark, tmp_path, monkeypatch):
    from bearysta_spark.engine import sources
    from bearysta_spark.engine.sources import lines_df

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
    other = tmp_path / "other.log"
    other.write_text("\n".join(lines[::-1]) + "\n")
    want = python_lines(big, filters)
    assert len(want) > 100
    want2 = python_lines(big, None)
    both = python_lines(big, filters) + python_lines(other, filters)

    # the default sizing reads this input in one Python task; a few KB a
    # task spreads the same read over several, in the same order
    for several in (False, True):
        if several:
            monkeypatch.setattr(sources, "_PYTHON_TASK_BYTES", 4096)
        assert ordered_lines(lines_df(spark, [str(big)], filters)) == want
        for chunk_bytes in (512, 2048, 5000):
            got = lines_df(spark, [str(big)], filters, chunk_mb=chunk_bytes / (1024 * 1024))
            assert ordered_lines(got) == want, chunk_bytes
            assert (got.rdd.getNumPartitions() > 1) == several, chunk_bytes
        # whole-file chunks of two files
        got = lines_df(spark, [str(big), str(other)], filters)
        assert ordered_lines(got) == both
        assert got.rdd.getNumPartitions() == (2 if several else 1)

        # no filters: plain line split must round-trip too
        for chunk_mb in (None, 1024 / (1024 * 1024)):
            assert ordered_lines(lines_df(spark, [str(big)], None, chunk_mb=chunk_mb)) == want2


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


ODD_NAMES = ["plain.csv", "a b.csv", "c#d.csv", "p%20q.csv", "r[1].csv", "e{f}.csv"]


@pytest.mark.parametrize("split_mb", [None, 8 / (1024 * 1024)], ids=["whole", "split"])
def test_scan_csv_reads_literal_paths(spark, tmp_path, split_mb):
    # names a Hadoop path would percent-encode or re-glob read as themselves
    from bearysta_spark.engine.sources import scan_csv

    d = tmp_path / "odd dir"
    files = []
    for i, name in enumerate(ODD_NAMES):
        files.append(write(d / name, f"x,name\n{i},{name}\n"))
        write(d / (name + ".meta"), f"tag: t{i}\n")
    out = scan_csv(spark, files, split_files_over_mb=split_mb).collect()
    got = sorted((r["Path"], r["File"], r["Directory"], r["x"], r["name"], r["tag"]) for r in out)
    assert got == sorted(
        (str(d / n), n, str(d), str(i), n, f"t{i}") for i, n in enumerate(ODD_NAMES)
    )


def _write_columnar(path, fmt, row):
    import pyarrow as pa

    table = pa.Table.from_pylist([row])
    if fmt == "parquet":
        import pyarrow.parquet as pq

        pq.write_table(table, path)
    elif fmt == "orc":
        import pyarrow.orc as orc

        orc.write_table(table, path)
    else:
        path.write_text(json.dumps(row) + "\n")


@pytest.mark.parametrize("fmt", ["parquet", "json", "orc"])
def test_columnar_scans_read_literal_paths(spark, tmp_path, fmt):
    # spark.read globs its paths: `[`/`{` names must still read as themselves
    from bearysta_spark.engine import sources

    d = tmp_path / "odd dir"
    d.mkdir()
    names = [n.replace(".csv", f".{fmt}") for n in ODD_NAMES]
    for i, name in enumerate(names):
        _write_columnar(d / name, fmt, {"x": i, "name": name})
    scan = getattr(sources, f"scan_{fmt}")
    out = scan(spark, [str(d / n) for n in names]).collect()
    got = sorted((r["Path"], r["File"], r["Directory"], r["x"], r["name"]) for r in out)
    assert got == sorted((str(d / n), n, str(d), i, n) for i, n in enumerate(names))


@pytest.mark.parametrize("value", ["abc", [1], 0, -1, 1e-9, float("nan"), float("inf"), True])
def test_split_files_over_mb_rejects_bad_values(value):
    recipe = Recipe({"input": {"split-files-over-mb": value}})
    with pytest.raises(RecipeError, match="split-files-over-mb"):
        recipe.split_files_over_mb


def test_split_files_over_mb_accepts_one_byte_and_up(spark, tmp_path):
    one_byte = 1 / (1024 * 1024)
    assert Recipe({"input": {"split-files-over-mb": one_byte}}).split_files_over_mb == one_byte
    assert Recipe({"input": {"split-files-over-mb": 2}}).split_files_over_mb == 2.0
    assert Recipe({"input": {}}).split_files_over_mb is None
    # a sub-byte value fails as a recipe error before the scan divides by it
    csv = write(tmp_path / "a.csv", "x\n1\n")
    recipe = {
        "input": {"path": csv, "format": "csv", "split-files-over-mb": 1e-9},
        "aggregation": "mean",
        "values": ["x"],
    }
    with pytest.raises(RecipeError, match="split-files-over-mb"):
        RecipeEngine(spark, recipe).raw()


@pytest.mark.parametrize("csv_header", [None, "A,B", "A, B"])
def test_header_in_a_later_chunk_and_edge_files(spark, tmp_path, csv_header):
    from bearysta_spark.engine.sources import lines_df, scan_csv

    noise = "@noise padding line\n" * 3  # 60 bytes: chunks 0-2 hold only noise
    files = [
        write(tmp_path / "late.csv", noise + "A,B\n1,2\n3,4\n"),
        write(tmp_path / "crlf.csv", "A,B\r\n5,6\r\n7,8\r\n"),
        write(tmp_path / "nonl.csv", "A,B\n9,10"),
        write(tmp_path / "empty.csv", ""),
        write(tmp_path / "noise.csv", noise),
    ]
    filters = {"^@": "drop", "^[^@]": None}
    split_mb = 16 / (1024 * 1024)
    heads = lines_df(spark, files[:1], filters, chunk_mb=split_mb).filter("local_idx = 0")
    assert min(r["chunk_id"] for r in heads.collect()) > 0

    want = {("late.csv", "1", "2"), ("late.csv", "3", "4"), ("crlf.csv", "5", "6"),
            ("crlf.csv", "7", "8"), ("nonl.csv", "9", "10")}
    for mb in (None, split_mb):
        out = scan_csv(spark, files, csv_header, filters, split_files_over_mb=mb)
        assert {(r["File"], r["A"], r["B"]) for r in out.collect()} == want, mb


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


def test_sidecar_keys_named_like_the_readers_columns(spark, tmp_path):
    from bearysta_spark.engine.sources import scan_csv

    a = write(tmp_path / "a.out", "1,2\n3,4\n")
    write(tmp_path / "a.out.meta", "line: l1\npath: p1\nchunk_id: c1\nlocal_idx: i1\n")
    b = write(tmp_path / "b.out", "5,6\n")
    keys = ["line", "path", "chunk_id", "local_idx"]
    want = {("1", "2", "l1", "p1", "c1", "i1"), ("3", "4", "l1", "p1", "c1", "i1"), ("5", "6", None, None, None, None)}
    # the plain scan, and the filtered (cached) one over 4-byte chunks;
    # a CSV column may also be named like the internal sidecar columns
    for line_filter, mb in ((None, None), ({"": None}, 4e-6)):
        out = scan_csv(spark, [a, b], "x,_sidecar0", line_filter, split_files_over_mb=mb)
        assert out.columns == ["Path", "x", "_sidecar0", "File", "Directory", *keys]
        assert {tuple(r[c] for c in ["x", "_sidecar0", *keys]) for r in out.collect()} == want


# ---------------------------------------------------------------------------
# S6 lineage of the columnar scans
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json"])
def test_columnar_scan_path_is_the_literal_path(spark, tmp_path, fmt):
    from bearysta_spark.engine import sources

    d = tmp_path / "odd dir%20#x+y" / f"a b%25+c#{fmt}"
    spark.createDataFrame([("a", 1)], ["k", "i"]).write.format(fmt).save(str(d))
    r = getattr(sources, f"scan_{fmt}")(spark, [str(d)]).first()
    assert r["Directory"] == str(d)
    assert r["Path"] == str(d / r["File"])


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


def test_infer_numeric_is_one_collect(spark, monkeypatch):
    df = spark.createDataFrame([("1", "x", "2.5"), ("2", "y", None)], ["a", "b", "c"])
    assert _collects_during(monkeypatch, spark, lambda: infer_numeric(df)) == 1
    # nothing to probe: no job at all
    assert _collects_during(monkeypatch, spark, lambda: infer_numeric(df, exclude=("a", "b", "c"))) == 0


def test_pack_recipe_without_filter_in_probes_once(spark, tmp_path, monkeypatch):
    csv = write(tmp_path / "p.csv", "Prefix,fit,predict\npy,10.0,1.0\nnat,20.0,2.0\n")
    recipe = {
        "input": {"path": csv, "format": "csv"},
        "pack": [{"columns": ["fit", "predict"], "name": "Function", "value": "Time"}],
        "aggregation": "min",
        "series": ["Prefix"],
        "axis": ["Function"],
        "values": ["Time"],
    }
    eng = RecipeEngine(spark, recipe)
    # the header sniff and inference pass 1: pack leaves no column to re-probe
    assert _collects_during(monkeypatch, spark, eng.normalized) == 2
    assert dict(eng.normalized().dtypes)["Function"] == "string"


def test_pack_of_a_string_column_raises_recipe_error(spark, tmp_path):
    csv = write(tmp_path / "s.csv", "k,s,x\nA,x,1\nB,y,2\n")
    recipe = {
        "input": {"path": csv, "format": "csv"},
        "pack": [{"columns": ["s", "x"], "name": "N", "value": "V"}],
        "aggregation": "sum",
        "series": ["k"],
        "axis": ["N"],
        "values": ["V"],
    }
    with pytest.raises(RecipeError, match="non-numerical"):
        RecipeEngine(spark, recipe).aggregated().collect()


def test_pack_of_an_all_null_string_column_gives_a_double_value_column(spark, tmp_path):
    csv = write(tmp_path / "n.csv", "k,s,x,y\nA,,1,5\nB,,2,6\n")
    recipe = {
        "input": {"path": csv, "format": "csv"},
        "pack": [{"columns": ["s", "x"], "name": "N", "value": "V"}],
        "aggregation": "sum",
        "series": ["k"],
        "axis": ["N", "V"],
        "values": ["y"],
    }
    eng = RecipeEngine(spark, recipe)
    # x's integers are packed as "1.0", "2.0": the value column stays
    # double, as when every packed column was cast to double
    assert dict(eng.normalized().dtypes)["V"] == "double"
    rows = {(r["k"], r["N"]): (r["V"], r["y"]) for r in eng.aggregated().collect()}
    assert rows == {
        ("A", "s"): (None, 5.0),
        ("A", "x"): (1.0, 5.0),
        ("B", "s"): (None, 6.0),
        ("B", "x"): (2.0, 6.0),
    }


# Recipes whose pass-2 verdicts depend on what a stage rewrote. The
# expected dtypes and rows are those of the engine that re-probed every
# string column after the reshaping stages.
SETTLED_CASES = {
    "numeric_pack_names": (
        "k,1,2\nA,1.5,2.5\nB,3,4\n",
        {"pack": [{"columns": ["1", "2"], "name": "N", "value": "V"}], "series": ["k"], "axis": ["N"], "values": ["V"]},
        {"N": "bigint", "V": "double"},
        [("A", 1, 1.5), ("A", 2, 2.5), ("B", 1, 3.0), ("B", 2, 4.0)],
    ),
    "mixed_pack_names": (
        "k,1,x\nA,1.5,2.5\nB,3,4\n",
        {"pack": [{"columns": ["1", "x"], "name": "N", "value": "V"}], "series": ["k"], "axis": ["N"], "values": ["V"]},
        {"N": "string", "V": "double"},
        [("A", "1", 1.5), ("A", "x", 2.5), ("B", "1", 3.0), ("B", "x", 4.0)],
    ),
    "unpack_creates_numeric_columns": (
        "k,metric,v\na,min,1\na,cnt,3\na,note,n/a\nb,min,2.5\nb,cnt,4\nb,note,x\n",
        {"unpack": [{"name": "metric", "value": "v"}], "series": ["k"], "axis": ["cnt", "note"], "values": ["min"]},
        {"cnt": "bigint", "note": "string", "min": "double"},
        [("a", 3, "n/a", 1.0), ("b", 4, "x", 2.5)],
    ),
    "precompute_overwrites_a_column": (
        "k,x,y\nA,a1,1\nB,b2,2\n",
        {"precomputed": {"x": "'{}'.format(int(row['y']) * 10)"}, "series": ["k"], "axis": ["x"], "values": ["y"]},
        {"x": "bigint", "y": "double"},
        [("A", 10, 1.0), ("B", 20, 2.0)],
    ),
    "python_precompute_rebuilds_rows": (
        # the merge-back keeps vendor a's rows only, so `note` is left
        # all-numeric although pass 1 saw "n/a"
        "Vendor,note,MOPS\na,1,100.0\na,2,50.0\nb,n/a,10.0\n",
        {
            "precomputed": {
                "VM": "(df[df['Vendor'] == 'a'].groupby('Vendor', as_index=False).agg({'MOPS': 'mean'}), 'MOPS')"
            },
            "series": ["Vendor"],
            "axis": ["note"],
            "values": ["MOPS", "VM"],
        },
        {"note": "bigint", "MOPS": "double", "VM": "double"},
        [("a", 1, 100.0, 75.0), ("a", 2, 50.0, 75.0)],
    ),
}


@pytest.mark.parametrize("case", sorted(SETTLED_CASES))
def test_settled_columns_keep_the_reprobed_verdicts(spark, tmp_path, case):
    text, spec, dtypes, rows = SETTLED_CASES[case]
    recipe = {"input": {"path": write(tmp_path / "in.csv", text), "format": "csv"}, "aggregation": "sum", **spec}
    eng = RecipeEngine(spark, recipe, allow_python=True)
    t = dict(eng.normalized().dtypes)
    assert {c: t[c] for c in dtypes} == dtypes
    dims = spec["series"] + spec["axis"] + spec["values"]
    assert sorted(tuple(r[c] for c in dims) for r in eng.aggregated().collect()) == rows


def _inferred(values: list[str | None]) -> tuple[str, list]:
    """The inference rule in pure Python, as pandas' `to_numeric` reads
    an object column: spaces stripped, a column of strings that all
    parse as numbers becomes bigint when every one is an integer a long
    holds, else double (pandas would give uint64 or float for a larger
    integer; Spark has no uint64); a signed NaN (`-nan`, `+nan`) is
    NaN; an all-null or empty column stays string."""
    present = [v.strip(" ") for v in values if v is not None]

    def parses(f, v):
        try:
            f(v)
            return True
        except ValueError:
            return False

    if not present or not all(parses(float, v) for v in present):
        return "string", values
    if all(parses(int, v) and -(2**63) <= int(v) < 2**63 for v in present):
        return "bigint", [None if v is None else int(v.strip(" ")) for v in values]
    return "double", [None if v is None else float(v.strip(" ")) for v in values]


_SPECIAL = st.sampled_from(
    ["inf", "Inf", "+inf", "-Infinity", "INFINITY", "infinit", "nan", "NaN", "-nan", "+NaN", "1e400", "99999999999999999999", "x", "n/a"]
)
_CELL = st.one_of(
    st.none(),
    st.builds(
        lambda left, body, right: " " * left + body + " " * right,
        st.integers(0, 2),
        st.one_of(st.text(alphabet="0123456789+-.eE", max_size=6), _SPECIAL),
        st.integers(0, 2),
    ),
)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return a == b and type(a) is type(b)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.integers(1, 4).flatmap(
        lambda ncols: st.lists(st.lists(_CELL, min_size=ncols, max_size=ncols), max_size=6).map(
            lambda rows: (ncols, rows)
        )
    )
)
def test_infer_numeric_matches_the_python_rule(spark, shape):
    ncols, rows = shape
    names = [f"c{i}" for i in range(ncols)]
    schema = StructType([StructField(c, StringType()) for c in names])
    out = infer_numeric(local_frame(spark, rows, schema))
    got = out.collect()
    for i, c in enumerate(names):
        dtype, values = _inferred([r[i] for r in rows])
        assert dict(out.dtypes)[c] == dtype, (c, rows)
        assert all(_same(g[c], v) for g, v in zip(got, values)), (c, rows, got)


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
