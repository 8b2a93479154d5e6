"""Deterministic sampling for training-data pipelines.

Reproducibility is the requirement samplers usually break: `rand()`
varies across runs/partitionings. Hash-ordered sampling (order within
each stratum by a content hash, take the first n) is fully deterministic
for a given dataset — reruns, re-partitions, and other engines produce
the same sample. Cost: one window shuffle on the stratum key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bearysta_spark.session import local_frame


def stratified_sample(
    df: DataFrame,
    strata: Sequence[str],
    n_per_stratum: int,
    order_key: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Take n rows per stratum, chosen by md5-hash order of
    `order_key` (default: the id column) — deterministic and
    engine-portable. Ties broken by the id column."""
    key = F.md5(F.col(order_key if order_key else id_col).cast("string"))
    w = Window.partitionBy(*strata).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def hex_threshold(fraction: float) -> str:
    """8-hex-digit acceptance threshold for md5-prefix sampling: a row is
    kept iff `md5(key) < threshold` as a STRING comparison. md5 hex is
    uniform, so P(keep) = fraction to within 16^-8, and lexicographic
    compare of lowercase hex is identical in every engine (no hex→int
    conversion needed, which DuckDB lacks)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    n = int(fraction * 16**8)
    if n >= 16**8:
        return "g"  # > every hex string → keep all ('100000000' would not:
        # it string-compares BELOW md5s that start with a letter)
    return format(n, "08x")


def weighted_mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    strat_col: str = "source",
    id_col: str = "doc_id",
    default: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Domain-mixture sampling: keep each stratum at its own rate (the
    'data mixture' step of a training pipeline — e.g. wiki ×0.8, web
    ×0.05). Deterministic md5-threshold acceptance — no shuffle, no rand;
    a row's fate depends only on (id, salt), so reruns and appends are
    stable and any engine reproduces the exact sample."""
    thr = F.lit(hex_threshold(default))
    for stratum, frac in weights.items():
        thr = F.when(F.col(strat_col) == stratum, F.lit(hex_threshold(frac))).otherwise(
            thr
        )
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    return df.filter(key < thr)


def hash_split(
    df: DataFrame,
    splits: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's split depends
    only on md5(id, salt) against cumulative hex thresholds, so the
    partition is stable under reruns, appends, and repartitioning, and
    any engine reproduces it. Scan-side expression — zero shuffle.

    `splits` maps name → fraction (must sum to ≤ 1; remainder falls into
    the last split listed)."""
    if splits is None:
        splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    names = list(splits)
    expr = F.lit(names[-1])  # remainder → last split
    cum = 0.0
    arms = []
    for name in names[:-1]:
        cum += splits[name]
        arms.append((name, hex_threshold(cum)))
    for name, thr in reversed(arms):
        expr = F.when(key < thr, F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def hash_split_case_sql(
    splits: dict[str, float], id_sql: str, salt: str = "split"
) -> str:
    """The ANSI-SQL twin of `hash_split` for oracle pairing."""
    names = list(splits)
    cum = 0.0
    arms = []
    for name in names[:-1]:
        cum += splits[name]
        arms.append(
            f"WHEN md5({id_sql} || ':{salt}') < '{hex_threshold(cum)}' "
            f"THEN '{name}'"
        )
    return f"CASE {' '.join(arms)} ELSE '{names[-1]}' END"


def per_group_sample(
    df: DataFrame,
    k: int,
    group_cols: Sequence[str] = ("source",),
    id_col: str = "doc_id",
    salt: str = "grp",
) -> DataFrame:
    """Exactly-k-per-group deterministic sample (e.g. "100 eval docs per
    language"): rank rows inside each group by md5(id, salt) and keep
    the first k. One window shuffle on the group key; md5 order is
    uniform, so this is an unbiased without-replacement sample that any
    engine reproduces. Ties are impossible while ids are unique, but
    id_col is a secondary sort key so the output is total-ordered
    regardless."""
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy(*group_cols).orderBy(key, F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def proportional_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Keep ~fraction of rows by hash-bucket threshold — deterministic,
    no shuffle at all (a scan-side filter), stable under reruns and
    appends (a row's fate depends only on its id)."""
    bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(salt)), F.lit(1_000_000))
    return df.filter(bucket < int(fraction * 1_000_000))


# ---------------------------------------------------------------------------
# Persisted mixture plan (the DoReMi train-once/serve-many artifact):
# D rows of (dom, rate_ppm) published with the versioned atomic-marker
# protocol of text.write_classifier_model, consumed by the streaming
# curation pipeline's mixture-sampling stage (streaming/curation.py) —
# re-read every micro-batch, so a retrained mixture is picked up
# without restart.

MIXTURE_META = "_current.json"
MIXTURE_PLAN_SCHEMA = "dom string, rate_ppm long"
MIXTURE_RESIDUE_SALT = ":drm"     # doremi_trained_sample's acceptance salt
MIXTURE_RESIDUE_MOD = 1_000_000


def mixture_residue_col(id_col: str = "doc_id"):
    """The deterministic md5-residue the DoReMi sampler accepts
    against: int(md5(id ':drm')[:15 hex]) % 1e6 — engine-portable
    (queries.doremi_sample_oracle_sql replays it in DuckDB), stable
    under reruns/repartitions. A doc is KEPT iff residue < rate_ppm."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(MIXTURE_RESIDUE_SALT),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % MIXTURE_RESIDUE_MOD
    )


def write_mixture_plan(spark, path: str, rates: list[tuple[str, int]]) -> dict:
    """Persist per-domain acceptance rates (dom, rate_ppm) — e.g. the
    (source, rate_ppm) columns of queries.doremi_trained_sample — as a
    versioned, atomically-published artifact: rows land in a fresh
    v<k> subdir, the marker flips only after the row count verifies,
    the superseded dir is reclaimed one rebuild cycle later (the
    write_classifier_model protocol verbatim). The marker carries the
    residue GEOMETRY (salt + modulus): a serve probing with a
    different salt samples a silently-different subset with no error,
    the same failure class the classifier geometry guard exists for.
    Rates outside [0, 1e6] raise (a 1e6 rate keeps everything; more is
    a unit error)."""
    from bearysta_spark.streaming.index import _read_json, _write_json

    clean = [(str(d), int(r)) for d, r in rates]
    if not clean:
        raise ValueError(
            "mixture plan is EMPTY: an empty plan makes the serving "
            "stage drop every curated document (no domain matches) — "
            "the write_eval_anchor_index empty-artifact lesson; fix "
            "the upstream rate derivation"
        )
    for d, r in clean:
        if not (0 <= r <= MIXTURE_RESIDUE_MOD):
            raise ValueError(
                f"mixture plan rate_ppm for domain {d!r} is {r} — must "
                f"be in [0, {MIXTURE_RESIDUE_MOD}] (parts-per-million)"
            )
    if len({d for d, _ in clean}) != len(clean):
        raise ValueError("mixture plan has duplicate domains")
    cur = _read_json(path, MIXTURE_META, spark)
    version = (int(cur["version"]) + 1) if cur else 0
    vdir = f"{path}/v{version}"
    # one parquet file per version dir (see write_classifier_model)
    plan = local_frame(spark, clean, MIXTURE_PLAN_SCHEMA)
    plan.coalesce(1).write.mode("overwrite").parquet(vdir)
    n = spark.read.schema(MIXTURE_PLAN_SCHEMA).parquet(vdir).count()
    if n != len(clean):
        raise ValueError(
            f"mixture plan write to {vdir} produced {n} rows, expected "
            f"{len(clean)} — refusing to publish the marker"
        )
    meta = {
        "version": version,
        "n_domains": len(clean),
        "residue_salt": MIXTURE_RESIDUE_SALT,
        "residue_mod": MIXTURE_RESIDUE_MOD,
    }
    _write_json(path, MIXTURE_META, meta, spark)
    if version >= 2:  # deferred reclamation: keep v(k-1), drop v(k-2)
        from bearysta_spark.streaming.index import delete_dir

        delete_dir(spark, f"{path}/v{version - 2}")
    return meta


def load_mixture_plan(spark, path: str) -> tuple[DataFrame, dict]:
    """Read back a persisted mixture plan: returns (plan_df, meta)
    where plan_df is the D-row (dom, rate_ppm) frame (broadcast-sized
    by contract — one row per training domain). Raises on a missing
    marker (serving never creates plan state) and on residue-geometry
    mismatch (a salt/modulus this code didn't write means the rates
    were computed against a DIFFERENT residue function, and probing
    with ours silently samples the wrong subset)."""
    from bearysta_spark.streaming.index import _read_json

    meta = _read_json(path, MIXTURE_META, spark)
    if meta is None:
        raise ValueError(
            f"no mixture plan marker under {path} — publish one with "
            "write_mixture_plan first (serving never creates plan state)"
        )
    if (
        meta.get("residue_salt") != MIXTURE_RESIDUE_SALT
        or int(meta.get("residue_mod", -1)) != MIXTURE_RESIDUE_MOD
    ):
        raise ValueError(
            f"mixture plan at {path} was built for residue geometry "
            f"(salt={meta.get('residue_salt')!r}, "
            f"mod={meta.get('residue_mod')}); this build probes with "
            f"(salt={MIXTURE_RESIDUE_SALT!r}, mod={MIXTURE_RESIDUE_MOD})"
            " — refusing to sample a silently-different subset"
        )
    plan = spark.read.schema(MIXTURE_PLAN_SCHEMA).parquet(
        f"{path}/v{int(meta['version'])}"
    )
    return plan, meta
