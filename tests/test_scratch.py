"""Scratch-parquet materialization: the rolling `replaces=` handoff."""

from __future__ import annotations

import os

from bearysta_spark.scratch import materialize_distributed, path_of


def test_replaces_deletes_the_previous_round_under_a_spaced_root(
    spark, tmp_path, monkeypatch
):
    # the frame's input files are URIs: a space or `%` in the scratch
    # root is percent-encoded there, and path_of must hand back the
    # filesystem path for the previous round to be deleted
    root = tmp_path / "sp ace %41"
    monkeypatch.setenv("BEARYSTA_SCRATCH_DIR", str(root))
    first = materialize_distributed(spark.range(3), "t")
    assert os.path.isdir(path_of(first))
    second = materialize_distributed(spark.range(4), "t", replaces=path_of(first))
    assert os.listdir(root) == [os.path.basename(path_of(second))]
    assert second.count() == 4
