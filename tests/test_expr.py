"""Unit tests for the precompute expression compiler (engine/expr.py),
covering every idiom family observed in the reference's shipped recipes
(SURVEY §2.8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bearysta_spark.engine.expr import (
    ExprCompileError,
    compile_expr,
    extract_ratio_calls,
)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            ("native", "runs/skl_icx_2024/x/native", "a.erf_seq.out", 1, 2.0, None),
            ("", "runs/gnr_spr_2024/y/py", "b.exp_par.out", 8, 4.0, 3.0),
        ],
        ["Prefix", "Directory", "File", "threads", "Time", "classes"],
    )


def rows(df, col):
    return [r[0] for r in df.select(col).collect()]


def test_string_constant(df):
    assert rows(df.withColumn("o", compile_expr(df, "'Numba'")), "o") == ["Numba", "Numba"]


def test_conditional_and_comparison(df):
    c = compile_expr(df, "'Serial' if row['threads'] == 1 else 'Parallel'")
    assert rows(df.withColumn("o", c), "o") == ["Serial", "Parallel"]


def test_membership(df):
    c = compile_expr(df, "'hit' if row['File'] in ('a.erf_seq.out',) else 'miss'")
    assert rows(df.withColumn("o", c), "o") == ["hit", "miss"]


def test_split_and_index(df):
    c = compile_expr(df, "row['File'].split('.')[1].split('_')[1]")
    assert rows(df.withColumn("o", c), "o") == ["seq", "par"]


def test_split_negative_index(df):
    c = compile_expr(df, "row['Directory'].split('/')[-1]")
    assert rows(df.withColumn("o", c), "o") == ["native", "py"]


def test_slice_plus_concat_fallback(df):
    # arch extraction: slice [-3:-2] + ['Unknown'] then [0]
    c = compile_expr(
        df, "(row['Directory'].split('/')[-3].split('_')[-3:-2]+['Unknown'])[0]"
    )
    assert rows(df.withColumn("o", c), "o") == ["skl", "gnr"]
    # too-short array → slice empty → fallback element
    c2 = compile_expr(df, "(row['Prefix'].split('_')[-5:-4]+['Unknown'])[0]")
    assert rows(df.withColumn("o", c2), "o") == ["Unknown", "Unknown"]


def test_format_with_int(df):
    c = compile_expr(df, "'{}x{}'.format(int(row['threads']), int(row['Time']))")
    assert rows(df.withColumn("o", c), "o") == ["1x2", "8x4"]


def test_len_gt(df):
    c = compile_expr(df, "'In' if len(row['File'].split('_')) > 1 else 'Out'")
    assert rows(df.withColumn("o", c), "o") == ["In", "In"]


def test_truthiness_fallback(df):
    c = compile_expr(df, "row['Prefix'] if row['Prefix'] else 'Native-C'")
    assert rows(df.withColumn("o", c), "o") == ["native", "Native-C"]


def test_fillna(df):
    c = compile_expr(df, "df['classes'].fillna(value='n/a')")
    out = rows(df.withColumn("o", c), "o")
    assert out == ["n/a", "3.0"]


def test_immediately_invoked_lambda(df):
    c = compile_expr(
        df, "(lambda p: 'Native-C' if p == 'native' else p)(row['Directory'].split('/')[-1])"
    )
    assert rows(df.withColumn("o", c), "o") == ["Native-C", "py"]


def test_np_max_clamp(df):
    c = compile_expr(df, "np.max(df['Time'], 3.0)")
    assert rows(df.withColumn("o", c), "o") == [3.0, 4.0]


def test_capitalize(df):
    c = compile_expr(df, "row['Prefix'].capitalize()")
    assert rows(df.withColumn("o", c), "o")[0] == "Native"


def test_boolean_or_null_semantics(df):
    # pandas: NaN == x → False, so null classes row yields False, not NULL
    c = compile_expr(df, "row['Prefix'] == 'native' or row['classes'] == 2")
    assert rows(df.withColumn("o", c), "o") == [True, False]


def test_arithmetic_on_ratio_rewrite(df):
    rewritten, calls = extract_ratio_calls("1 / ratio_of('Time', Prefix='Native-C')")
    assert len(calls) == 1
    tmp, spec = calls[0]
    assert spec == {
        "func": "ratio_of",
        "value": "Time",
        "base": {"Prefix": "Native-C"},
        "invert": False,
    }
    assert f"row['{tmp}']" in rewritten


def test_extract_multiple_ratio_calls():
    rewritten, calls = extract_ratio_calls(
        "percent_of('A', P='x') - ratio_diff('B', P='y', invert=True)"
    )
    assert [c[1]["func"] for c in calls] == ["percent_of", "ratio_diff"]
    assert calls[1][1]["invert"] is True


def test_ratio_base_names_a_dotted_column_through_a_dict_literal():
    _, calls = extract_ratio_calls(
        "ratio_of_inv('Time.s', **{'Algo.name': 'ref'}, Arch='icx')"
    )
    assert calls[0][1] == {
        "func": "ratio_of_inv",
        "value": "Time.s",
        "base": {"Algo.name": "ref", "Arch": "icx"},
        "invert": True,
    }
    for bad in (
        "ratio_of('T', **base)",
        "ratio_of('T', **{k: 'ref'})",
        "ratio_of('T', **{'A.b': row['x']})",
        "ratio_of('T', **{**base})",
    ):
        with pytest.raises(ExprCompileError):
            extract_ratio_calls(bad)


def test_unsupported_raises(df):
    with pytest.raises(ExprCompileError):
        compile_expr(df, "__import__('os').system('true')")
    with pytest.raises(ExprCompileError):
        compile_expr(df, "open('/etc/passwd')")
    with pytest.raises(ExprCompileError):
        compile_expr(df, "[x for x in row]")


def test_boolean_column_truthiness(spark):
    # boolean-typed columns in truthiness positions (`not row['flag']`,
    # `x if row['flag'] else y`) must use the column's own truth value,
    # not its string form ('false' is a non-empty string!); NULL → False.
    bdf = spark.createDataFrame(
        [(True,), (False,), (None,)], "flag: boolean"
    )
    got = [
        tuple(r)
        for r in bdf.select(
            compile_expr(bdf, "not row['flag']").alias("neg"),
            compile_expr(bdf, "'y' if row['flag'] else 'n'").alias("pick"),
        ).collect()
    ]
    assert got == [(False, "y"), (True, "n"), (True, "n")]


def test_not_of_comparison(spark):
    ndf = spark.createDataFrame([(1,), (2,)], "a: int")
    got = [
        r["v"]
        for r in ndf.select(
            compile_expr(ndf, "not (row['a'] == 1)").alias("v")
        ).collect()
    ]
    assert got == [False, True]


def test_read_csv_fd_lookup(spark, tmp_path):
    # S9 (aggregate.py:287-293,483): a precompute pulls a sidecar lookup
    # CSV; the compiler folds it into a literal map lookup (codegen, no
    # shuffle, no python in the row path).
    lookup = tmp_path / "targets.csv"
    lookup.write_text("name,target\nabc,1.5\ng_h_i_j,2.5\n")
    df = spark.createDataFrame([("abc",), ("g_h_i_j",), ("zzz",)], ["name"])

    col = compile_expr(
        df,
        f"read_csv_fd('{lookup}').set_index('name')['target'][row['name']]",
    )
    got = [r["t"] for r in df.select(col.alias("t")).collect()]
    assert got == [1.5, 2.5, None]  # missing key -> NULL (documented)

    # membership test against a lookup column
    member = compile_expr(
        df, f"row['name'] in list(read_csv_fd('{lookup}')['name'])"
    )
    got_m = [r["m"] for r in df.select(member.alias("m")).collect()]
    assert got_m == [True, True, False]


def test_read_csv_fd_cached(tmp_path):
    from bearysta_spark.engine.expr import _CSV_CACHE, read_csv_cached

    p = tmp_path / "x.csv"
    p.write_text("a\n1\n")
    first = read_csv_cached(str(p))
    assert read_csv_cached(str(p)) is first


def test_tuple_precompute_rejected(df):
    with pytest.raises(ExprCompileError, match="tuple-returning"):
        compile_expr(df, "(row['Time'], 'Time')")
