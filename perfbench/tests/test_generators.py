"""The recipe-tree generator is a pure function of the seed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_recipes  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _recipes(root, seed):
    return gen_recipes.write_recipe_inputs(str(root), seed, runs=2, records=40, bulk_records=300)


def test_recipe_tree_is_byte_identical_for_a_seed(tmp_path):
    _recipes(tmp_path / "a", 7)
    first = _digest(tmp_path / "a")
    os.rename(tmp_path / "a", tmp_path / "b")
    _recipes(tmp_path / "a", 7)
    assert _digest(tmp_path / "a") == first
    _recipes(tmp_path / "c", 8)
    other = _digest(tmp_path / "c")
    data = {h for k, h in first.items() if k.endswith(".out")}
    assert data and data.isdisjoint(other.values())


def test_recipe_tree_layout_and_counts(tmp_path):
    rs = _recipes(tmp_path, 1)
    outs = [p for p in rs.paths if p.endswith(".out")]
    # runs/<run>/<suite>/<arch>_<env>/<ts>_<cmd>.out
    assert all(len(os.path.relpath(p, tmp_path).split(os.sep)) == 5 for p in outs)
    assert all(os.path.isfile(p + ".meta") for p in outs)
    assert rs.files == len(outs) == 2 * 2 * 2 + 2
    assert rs.lines == sum(open(p).read().count("\n") for p in outs)
    text = "".join(open(p).read() for p in outs)
    assert "\n+ ," in text  # wrapped records for the `append` filter
    assert "\n@ Package" in text and "\nWARNING: " in text  # lines the drop filters remove


def test_expected_aggregates(tmp_path):
    rs = _recipes(tmp_path, 3)
    (case,) = rs.cases
    exp = case.expected()
    assert len(exp) == len(gen_recipes.HOSTS) * len(gen_recipes.ENVS) * 2
    assert set(exp.Function) == {"exec_ms", "total_ms"}
    assert (exp.Time > 0).all()
