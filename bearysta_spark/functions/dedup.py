"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- exact dedup = one hash-aggregate shuffle on a 16-byte digest (not the
  full text — shuffle bytes ∝ docs, not corpus size).
- MinHash: per-doc signatures are computed scan-side (explode shingles →
  partial min per hash seed is map-side combined), so the only wide op
  is the doc_id aggregation; LSH banding then buckets signatures and
  only bucket-mates are pair-joined — candidate pairs ≪ n².
- Hash function choice: md5 (hex) for anything the DuckDB oracle must
  reproduce bit-for-bit; xxhash64 for Spark-only paths (4× faster).
- SimHash: 64-bit near-dup sketch via per-token md5-derived bits;
  hamming distance on sketches is a cheap bucketed self-join.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bearysta_spark.cachescope import scoped_cache
from bearysta_spark.session import local_frame

logger = logging.getLogger(__name__)

#: Cap on hot-key rows collected to the driver by the oversized-bucket/
#: block backstops. The hot-key set is bounded by rows/max_size, but a
#: degenerate templated corpus at 100 TB can still push that into the
#: millions — past this cap the anti-join stays fully distributed
#: (recomputing the size aggregate inside the plan) instead of
#: round-tripping the keys through the driver.
HOT_KEY_COLLECT_LIMIT = 100_000


def _drop_hot_keys(
    frame: DataFrame,
    keys: list[str],
    max_size: int,
    what: str,
    collect_limit: int = HOT_KEY_COLLECT_LIMIT,
    stats_out: dict | None = None,
) -> DataFrame:
    """Anti-join away key groups with more than max_size members.

    Two regimes, chosen on a measured count (no silent caps — both log
    what was dropped):

    - few hot keys (≤ collect_limit): collect them in one job and
      anti-join from a broadcast local frame — the returned plan does
      not recompute the size aggregate and nothing stays cached.
    - many hot keys: keep the anti-join distributed. The size aggregate
      is recomputed inside the returned plan (one extra shuffle of the
      key columns), which is the correct trade against collecting
      millions of keys to the driver.
    """
    if stats_out is not None:
        stats_out.update({"n_capped_buckets": 0, "n_capped_rows": 0})
    sizes = frame.groupBy(*keys).agg(F.count("*").alias("sz"))
    hot = sizes.filter(F.col("sz") > max_size)
    stats = hot.agg(
        F.count("*").alias("n_keys"), F.sum("sz").alias("n_rows")
    ).collect()[0]
    if not stats["n_keys"]:
        return frame
    if stats_out is not None:
        stats_out.update(
            {
                "n_capped_buckets": int(stats["n_keys"]),
                "n_capped_rows": int(stats["n_rows"]),
            }
        )
    logger.warning(
        "%s: dropping %d oversized key groups (>%d members, %d rows total)"
        " — candidates inside them carry no locality signal",
        what,
        stats["n_keys"],
        max_size,
        stats["n_rows"],
    )
    if stats["n_keys"] <= collect_limit:
        hot_local = local_frame(
            frame.sparkSession,
            [tuple(r[c] for c in keys) for r in hot.select(*keys).collect()],
            frame.select(*keys).schema,
        )
        return frame.join(F.broadcast(hot_local), keys, "left_anti")
    logger.warning(
        "%s: %d hot keys exceed the driver collect cap %d; "
        "keeping the anti-join distributed",
        what,
        stats["n_keys"],
        collect_limit,
    )
    return frame.join(hot.select(*keys), keys, "left_anti")


def content_hash(text: str | Column) -> Column:
    """Canonical exact-dedup key: md5 of the raw text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep-first exact dedup: one row per distinct content hash with the
    minimum id and the duplicate count. (Reference has only
    drop_duplicates, aggregate.py:633; this is its scale-out shape.)"""
    return df.groupBy(content_hash(text_col).alias("h")).agg(
        F.min(id_col).cast("long").alias("keep_id"),
        F.count("*").cast("long").alias("n_dups"),
    )


def char_shingles(text: str | Column, k: int = 5) -> Column:
    """All k-character shingles of the text as an array<string> (empty
    array when len(text) < k). JVM-side: transform over sequence —
    no Python, no explode until the caller asks."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c) - F.lit(k - 1)
    return F.when(
        n > 0,
        F.transform(F.sequence(F.lit(1), n), lambda i: c.substr(i, F.lit(k))),
    ).otherwise(F.array().cast("array<string>"))


def _spread(df: DataFrame) -> DataFrame:
    """Rebalance ahead of a row-exploding stage: a corpus read from few
    parquet files otherwise explodes on few cores (measured 1 partition
    for the whole documents table). The small pre-shuffle of doc rows
    buys full parallelism for the ~300× row multiplication after it."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target)


def shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """Exploded (id, shingle) pairs, duplicates included — no dedup
    shuffle.

    Explodes an int sequence and substrings AFTER the explode: the
    substring then runs inside whole-stage codegen, where the
    char_shingles higher-order-function form is interpreted and
    allocates a per-row string array (GC-storm variance at corpus
    scale)."""
    spread = _spread(df).filter(F.length(text_col) >= k)
    return spread.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(
            F.sequence(F.lit(1), F.length(text_col) - F.lit(k - 1))
        ).alias("__i"),
    ).select(
        F.col(id_col), F.col(text_col).substr(F.col("__i"), F.lit(k)).alias("shingle")
    )


def shingle_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """Exploded distinct (id, shingle) pairs (one dedup shuffle). Use
    shingle_rows for duplicate-insensitive consumers (MinHash min)."""
    return shingle_rows(df, text_col, id_col, k).distinct()


def drop_boilerplate_shingles(
    sh: DataFrame,
    n_docs: int,
    id_col: str = "doc_id",
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Remove shingles present in more than max_df_frac of documents
    (template boilerplate) before MinHash.

    Why this matters at scale: a MinHash function whose global-argmin
    shingle is boilerplate is degenerate — most docs share its min, the
    band containing it stops discriminating, and LSH candidate volume
    blows up quadratically in the boilerplate clique size (measured on
    this corpus: 2 of 12 draws degenerate → one band at 35k pair-slots
    vs ~4k healthy, 3× total candidates). Filtering by document
    frequency removes the cause rather than re-rolling seeds, and makes
    the downstream Jaccard measure distinctive content. The hot-shingle
    list is tiny (DF > frac·N bounds it by 1/frac · shingles-per-doc) —
    broadcast anti-join, no extra wide shuffle beyond the DF count,
    which map-side combines on the shingle key.
    """
    hot = (
        sh.groupBy("shingle")
        .agg(F.count_distinct(id_col).alias("df"))
        .filter(F.col("df") > max_df_frac * n_docs)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    oracle_safe: bool = True,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: for each of `num_hashes` seeded hash
    functions, the min hash over the doc's distinct k-shingles.

    oracle_safe=True uses md5-derived string mins (reproducible in any
    SQL engine); False uses xxhash64 (faster, Spark-only). Pass a
    (cached) `sh` shingle frame to share the explode across pipeline
    stages. Output: id_col, sig array ordered by seed. min() is
    duplicate-insensitive, so the standalone path skips the distinct
    shuffle entirely — map-side partial mins see raw shingles.

    md5 cost halving (r3): one digest is 128 bits — each md5 yields TWO
    independent 64-bit hash functions (hex slices [1,16] and [17,32]),
    so num_hashes functions cost ceil(num_hashes/2) md5 calls. The
    DuckDB oracle slices identically:
    substr(md5('s<i//2>|'||shingle), 1+16*(i%2), 16). Fixed-width hex
    slices keep lexicographic min == numeric min.
    """
    if sh is None:
        sh = shingle_rows(df, text_col, id_col, k)
    if oracle_safe:
        digests = [
            F.md5(F.concat(F.lit(f"s{j}|"), F.col("shingle")))
            for j in range((num_hashes + 1) // 2)
        ]
        mins = [
            F.min(F.substring(digests[i // 2], 1 + 16 * (i % 2), 16)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        mins = [
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    sigs = sh.groupBy(id_col).agg(*mins)
    return sigs.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    oracle_safe: bool = True,
    sh: DataFrame | None = None,
    max_df_frac: float | None = None,
    max_bucket_size: int | None = None,
    cap_stats_out: dict | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the MinHash
    signature. Returns distinct (id_a, id_b) with id_a < id_b.

    Scale path: the band bucket key is md5(band-slice), the self-join is
    an equi-join on that key — bucket sizes are the only quadratic
    surface, and AQE's skew-join splitting handles hot buckets.
    max_df_frac drops boilerplate shingles first (see
    drop_boilerplate_shingles); callers passing a prebuilt `sh` are
    expected to have filtered it themselves. max_bucket_size drops
    degenerate buckets outright (see cap_buckets) — the backstop that
    bounds candidate volume on adversarially templated corpora.
    """
    if sh is None and max_df_frac is not None:
        sh = drop_boilerplate_shingles(
            shingle_rows(df, text_col, id_col, k), df.count(), id_col, max_df_frac
        )
    sigs = minhash_signatures(df, text_col, id_col, k, num_hashes, oracle_safe, sh=sh)
    buckets = band_buckets(sigs, id_col, num_hashes, bands)
    if max_bucket_size is not None:
        buckets = cap_buckets(
            buckets, max_bucket_size, id_col, stats_out=cap_stats_out
        )

    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def band_buckets(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) rows: bucket = md5 of the band's signature
    slice. One row per doc per band — the LSH index a production system
    persists alongside the corpus."""
    rows_per_band = num_hashes // bands
    band_key = [
        (
            F.lit(b),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col("sig")[i].cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(*[F.struct(b.alias("band"), h.alias("bucket")) for b, h in band_key])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def cap_buckets(
    buckets: DataFrame,
    max_bucket_size: int,
    id_col: str = "doc_id",
    stats_out: dict | None = None,
) -> DataFrame:
    """Defensive cap on degenerate LSH buckets: drop (band, bucket) keys
    with more than max_bucket_size members before the pair join.

    drop_boilerplate_shingles removes the usual CAUSE of degenerate
    buckets (template boilerplate dominating a hash function's argmin);
    this is the backstop for adversarially templated corpora at scale,
    where one hot bucket of size m still costs O(m²) candidate pairs.
    A bucket that large carries no locality signal anyway — its members
    pair with everything — so dropping it loses only candidates the
    verifier would reject wholesale, at the price of possibly missing
    true near-dups inside the clique (run exact dedup first; identical
    docs never reach LSH).

    No silent caps: the dropped-bucket count and their total membership
    are logged. The oversized-key set is bounded by
    rows/max_bucket_size; _drop_hot_keys collects it driver-side only
    while it fits HOT_KEY_COLLECT_LIMIT (no cached mid-plan frame, no
    unbounded driver round-trip) and otherwise keeps the anti-join
    fully distributed.
    """
    return _drop_hot_keys(
        buckets, ["band", "bucket"], max_bucket_size, "cap_buckets",
        stats_out=stats_out,
    )


def write_lsh_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 3,
    oracle_safe: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Persist the corpus LSH band-bucket index — the table a production
    daily-ingest pipeline computes ONCE per corpus build and joins every
    increment against (incremental_lsh_pairs with corpus_buckets=
    spark.read.parquet(path)), so the corpus text is never re-shingled.

    Layout: hive-partitioned by `band` (each increment probe reads all
    bands, but compactions/backfills of a single band prune to 1/bands
    of the files) and bucket-clustered within partitions, so parquet
    min/max stats let the bucket equi-join's scan skip files when AQE
    pushes bucket ranges. Returns the (file, n_rows) manifest from
    sinks.write_corpus.

    The signature GEOMETRY (k, num_hashes, bands, oracle_safe) is
    persisted alongside the rows (streaming/index.py:ensure_layout,
    written AFTER the overwrite since the writer wipes the directory):
    an increment probed with different parameters hashes into a
    disjoint bucket space, so the equi-join finds ~nothing and every
    near-dup silently classifies fresh — read the index back through
    load_lsh_index to turn that into a loud config error.
    """
    from bearysta_spark.sinks import write_corpus
    from bearysta_spark.streaming.index import (
        clear_pending_write,
        ensure_layout,
        mark_pending_write,
    )

    layout = {
        "k": k, "num_hashes": num_hashes, "bands": bands,
        "oracle_safe": oracle_safe,
    }
    spark = corpus.sparkSession
    # sibling pending marker: the overwrite wipes the dir (including
    # any layout), so a crash before ensure_layout would otherwise
    # leave a populated index indistinguishable from a pre-layout
    # legacy one — admissible under ANY caller geometry (r11 ADVICE)
    mark_pending_write(spark, path, layout)
    sigs = minhash_signatures(corpus, text_col, id_col, k, num_hashes, oracle_safe)
    buckets = band_buckets(sigs, id_col, num_hashes, bands)
    if max_bucket_size is not None:
        buckets = cap_buckets(buckets, max_bucket_size, id_col)
    manifest = write_corpus(
        buckets, path, partition_by=["band"], cluster_by=["bucket"]
    )
    ensure_layout(spark, path, layout)
    clear_pending_write(spark, path)
    return manifest


def load_lsh_index(
    spark: SparkSession,
    path: str,
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 3,
    oracle_safe: bool = True,
) -> DataFrame:
    """Read a persisted LSH band-bucket index (write_lsh_index) with
    the geometry guard: raises when the caller's (k, num_hashes,
    bands, oracle_safe) differ from what the index was built with —
    probing a 12-hash/3-band increment against a 16-hash/4-band index
    joins disjoint bucket spaces and silently classifies every
    near-dup fresh, the same silent-wrong-neighbors failure the
    IMI-PQ serving path guards against (_checked_live_index). An index
    written before the layout file existed (pre-r11) has no
    _layout.json and is admitted with the caller's parameters (the
    ensure_layout upgrade note: the geometry cannot be inferred from
    the rows) — EXCEPT when a pending-write marker shows the missing
    layout is an interrupted rebuild, which raises (r11 ADVICE)."""
    from bearysta_spark.streaming.index import (
        check_pending_write,
        read_layout,
    )

    cur = read_layout(path, spark)
    if cur is None:
        check_pending_write(spark, path)
    want = {
        "k": k, "num_hashes": num_hashes, "bands": bands,
        "oracle_safe": oracle_safe,
    }
    if cur is not None and cur != want:
        raise ValueError(
            f"LSH index layout mismatch at {path}: persisted {cur}, "
            f"caller expects {want} — probing with different signature "
            "geometry joins disjoint bucket spaces and silently "
            "misclassifies every near-dup as fresh"
        )
    return spark.read.parquet(path)


def incremental_lsh_pairs(
    corpus: DataFrame | None,
    increment: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 3,
    oracle_safe: bool = True,
    max_bucket_size: int | None = None,
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus: candidate pairs are
    corpus×increment bucket-mates ONLY — no corpus×corpus work, so the
    cost of deduping a daily increment scales with the increment, not
    the corpus. Returns distinct (corpus_id, new_id).

    The production shape: corpus band buckets are computed once,
    persisted with write_lsh_index, and passed here as
    `corpus_buckets=spark.read.parquet(index_path)` — then `corpus`
    may be None and the corpus text is never re-read or re-shingled;
    the only corpus-side work is the index file scan. Without
    corpus_buckets both sides are computed inline. The join, the only
    wide op across the boundary, hash-partitions on (band, bucket) and
    a small increment side auto-broadcasts under AQE. max_bucket_size
    caps degenerate corpus buckets (cap_buckets) before the
    cross-boundary join (write_lsh_index applies the same cap at index
    build time — don't double-apply).
    """
    i_sigs = minhash_signatures(increment, text_col, id_col, k, num_hashes, oracle_safe)
    if corpus_buckets is not None:
        cb = corpus_buckets.select(id_col, "band", "bucket")
    else:
        if corpus is None:
            raise ValueError(
                "incremental_lsh_pairs: pass either corpus or corpus_buckets"
            )
        c_sigs = minhash_signatures(
            corpus, text_col, id_col, k, num_hashes, oracle_safe
        )
        cb = band_buckets(c_sigs, id_col, num_hashes, bands)
        if max_bucket_size is not None:
            cb = cap_buckets(cb, max_bucket_size, id_col)
    cb = cb.alias("c")
    ib = band_buckets(i_sigs, id_col, num_hashes, bands).alias("i")
    return (
        cb.join(
            ib,
            (F.col("c.band") == F.col("i.band"))
            & (F.col("c.bucket") == F.col("i.bucket")),
        )
        .select(
            F.col(f"c.{id_col}").alias("corpus_id"),
            F.col(f"i.{id_col}").alias("new_id"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    Inverted-index join: explode distinct shingles, self-join on shingle
    (optionally also on a blocking column to bound the candidate set),
    count intersections, then |A∩B| / (|A|+|B|−|A∩B|). This is the
    exact verifier for MinHash candidates; at 100 TB run it only on LSH
    survivors, never standalone.
    """
    sh = shingle_df(df, text_col, id_col, k)
    if block_col:
        blocks = df.select(F.col(id_col), F.col(block_col))
        sh = sh.join(F.broadcast(blocks), id_col)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))

    a = sh.alias("a")
    b = sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_dedup_verified(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    oracle_safe: bool = True,
    max_df_frac: float | None = None,
    max_bucket_size: int | None = None,
    cap_stats_out: dict | None = None,
) -> DataFrame:
    """The production near-dup pipeline: MinHash+LSH candidate pairs →
    exact n-gram Jaccard verification ≥ threshold.

    This is the composition that scales: the O(n²) surface is reduced to
    LSH bucket-mates (measured ~200 candidates for 500 docs at the shipped
    parameters), and the exact verifier only touches candidates. Returns
    (id_a, id_b, jaccard).

    max_df_frac filters boilerplate shingles before BOTH the signatures
    and the Jaccard verify, so similarity is measured on distinctive
    content (see drop_boilerplate_shingles for why this is the
    robustness lever on templated corpora). max_bucket_size drops
    degenerate LSH buckets before the pair join (see cap_buckets) —
    the same measured-count backstop the streaming curation pipeline
    applies on CUMULATIVE (index + batch) bucket size, so batch and
    stream stay twin-equal on corpora where the cap bites from the
    start (streaming/curation.py documents the cap-crossing window).

    Join strategy: the candidate frame and the candidate×shingle
    expansion both grow with the corpus (candidates × shingles/doc), so
    no join carries a broadcast hint. AQE broadcasts a side whose
    measured map output fits spark.sql.adaptive.autoBroadcastJoinThreshold
    and otherwise joins shuffled on the equi-keys — the same results
    either way, and no count job runs while the plan is built.
    """
    # one shingle explode+distinct, cached, shared by signature build,
    # size counts, and both verify joins
    sh = shingle_df(df, text_col, id_col, k)
    if max_df_frac is not None:
        sh = drop_boilerplate_shingles(sh, df.count(), id_col, max_df_frac)
    sh = scoped_cache(sh)
    cand = minhash_lsh_pairs(
        df, text_col, id_col, k, num_hashes, bands, oracle_safe, sh=sh,
        max_bucket_size=max_bucket_size, cap_stats_out=cap_stats_out,
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.withColumnsRenamed({id_col: "id_a", "shingle": "sh_a"})
    b = sh.withColumnsRenamed({id_col: "b_id", "shingle": "sh_b"})
    # the b-side join is a composite-key equi-join (id AND shingle) —
    # no per-pair cross product whichever strategy AQE picks
    inter = (
        cand.join(a, "id_a")
        .join(b, (F.col("id_b") == F.col("b_id")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(text: str | Column, token_pattern: str = "[A-Za-z0-9]+") -> Column:
    """64-bit SimHash over regex tokens, built from each distinct token's
    xxhash64 bits. Pure JVM expression: for each of 64 bit positions,
    majority-vote the token hash bits via sign sums.

    Implementation: tokens → xxhash64 → for bit i, sum(±1) over tokens →
    bit i of sketch = (sum > 0). aggregate() folds are codegen'd.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.array_distinct(F.regexp_extract_all(c, F.lit(token_pattern), 0))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def bit_vote(i: int) -> Column:
        # sum over tokens of (bit set ? 1 : -1), then > 0 → bit set
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        return F.when(vote > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))

    out = F.lit(0).cast("long")
    for i in range(63):  # skip the sign bit to stay in positive long range
        out = out + bit_vote(i)
    return out


def simhash_sketches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_pattern: str = "[A-Za-z0-9]+",
    oracle_safe: bool = False,
) -> DataFrame:
    """Distributed SimHash: explode distinct tokens → one aggregate with
    plain ±1 bit-vote sums → reassemble the sketch.

    Prefer this over the scalar `simhash64` column beyond toy sizes: the
    63 higher-order folds build an expression tree past the codegen
    method-size limit (interpreted fallback, measured ~16 s for 5k docs
    vs ~1 s here), while explode + plain sums stays in codegen and
    map-side-combines. Output: (id_col, sketch); join back on id_col if
    needed.

    oracle_safe=True derives the per-token bits from the low 60 bits of
    md5 (15 hex chars → long, reproducible in any SQL engine: DuckDB
    spells it ('0x' || substr(md5(tok),1,15))::BIGINT); the default is
    xxhash64's 63 positive bits (faster, Spark-only). Banding and
    hamming downstream are unchanged — high always-zero bits never vote.
    """
    toks = _spread(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.regexp_extract_all(F.col(text_col), F.lit(token_pattern), 0))
        ).alias("tok"),
    )
    if oracle_safe:
        h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
        nbits = 60
    else:
        h = F.xxhash64("tok")
        nbits = 63
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(nbits)
        ]
    )
    sketch = F.lit(0).cast("long")
    for i in range(nbits):
        sketch = sketch + F.when(
            F.col(f"b{i}") > 0, F.lit(2**i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), sketch.alias("sketch"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit sketches."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    sketches: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    sketch_col: str = "sketch",
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All pairs within `max_hamming` of each other, via pigeonhole
    banding instead of a within-block cross join.

    Split the 63 usable sketch bits into `max_hamming + 1` chunks: two
    sketches with hamming distance <= max_hamming MUST agree exactly on
    at least one chunk (pigeonhole), so an equi-join on
    (chunk_id, chunk_value, *block_cols) finds every qualifying pair
    while generating only candidates that already share a chunk.
    Candidate count scales with real near-duplicate density, not with
    block_size^2 — at 100 TB a source block is billions of docs and the
    naive blocked self-join (r01 shape) is O(n^2); this is the linear-ish
    shape. Output: (id_a, id_b, hamming int), id_a < id_b, deduped
    across multi-chunk matches.
    """
    nchunks = max_hamming + 1
    base, rem = divmod(63, nchunks)
    bounds: list[tuple[int, int]] = []
    start = 0
    for i in range(nchunks):
        w = base + (1 if i < rem else 0)
        bounds.append((start, w))
        start += w
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("cid"),
                F.shiftright(F.col(sketch_col), s)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("cval"),
            )
            for i, (s, w) in enumerate(bounds)
        ]
    )
    keyed = sketches.select(
        id_col, *block_cols, sketch_col, F.explode(chunk_arr).alias("c")
    ).select(
        id_col,
        *block_cols,
        sketch_col,
        F.col("c.cid").alias("cid"),
        F.col("c.cval").alias("cval"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cond = (
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.cval") == F.col("b.cval"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col(f"a.{sketch_col}"), F.col(f"b.{sketch_col}"))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def word_ngram_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) pairs of word n-grams (space-joined runs of
    `[a-z0-9]+` tokens). Word n-grams, not char k-grams, are the right
    granularity for prefix-filtered similarity joins on templated
    corpora: char shingles from a small vocabulary are near-universal
    (every doc shares them), so DF-ordered prefixes stop pruning (see
    prefix_jaccard_join). Docs with fewer than n tokens produce no rows.
    """
    words = df.select(
        id_col,
        F.regexp_extract_all(F.col(text_col), F.lit("[a-z0-9]+"), 0).alias("_w"),
    ).filter(F.size("_w") >= n)
    parts = [F.col("_w")[F.col("_i") + j] for j in range(1, n)]
    return (
        words.select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.size("_w") - n)).alias("_i"),
            "_w",
        )
        .select(
            id_col,
            F.concat_ws(
                " ", F.col("_w")[F.col("_i")], *parts
            ).alias("shingle"),
        )
        .distinct()
    )


def prefix_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: tuple[int, int] = (1, 2),
    ngram: int = 3,
) -> DataFrame:
    """Exact-recall set-similarity self-join via prefix filtering
    (Chaudhuri et al. / Vernica et al.): returns all pairs whose
    word-ngram Jaccard ≥ threshold (a rational p/q so every comparison
    is integer cross-multiplied — no double thresholds anywhere).

    Algorithm: order each doc's shingles by ascending global document
    frequency (rarest first; ties on the shingle value — any total
    order preserves exact recall), keep the first n − ceil(t·n) + 1 as
    its prefix; any pair with J ≥ t must share a prefix shingle, so the
    prefix equi-join generates a candidate superset. A length filter
    (q_minus_p·cross rule: pairs with min/max size ratio < t cannot
    reach t) prunes before the distinct. Verification intersects
    per-doc sorted xxhash64 arrays joined onto the candidate pairs —
    per-row codegen, nothing pair×shingle-sized shuffles.

    100 TB shape: DF table is shingle-vocabulary-sized (AQE broadcasts
    it while it fits);
    per-doc ordering is an id-partitioned window; candidates are the
    only quadratic surface and carry ids only. Compare
    minhash_dedup_verified: probabilistic recall, no DF pass; this
    operator: guaranteed recall, one extra vocab-sized aggregate.
    The per-doc sorted-array frames carry every doc's shingle hashes —
    a corpus-proportional payload — so they carry no broadcast hint:
    AQE broadcasts them while their measured size fits the threshold,
    and otherwise the verify joins shuffle on doc ids.

    Output columns: doc_a, doc_b, inter_size, union_size, jaccard.
    """
    from pyspark.sql import Window

    p, q = threshold
    sh = scoped_cache(word_ngram_shingles(df, text_col, id_col, ngram))
    df_tbl = sh.groupBy("shingle").agg(F.count("*").cast("long").alias("doc_freq"))
    # r14 (guide §2.4 share one exchange): the per-doc size used to be a
    # separate groupBy aggregate joined in TWICE (into `ordered` and
    # into the prefix frame) — one extra shuffle of the shingle table
    # plus two joins. The count now rides the SAME id-partitioned
    # window pass the row_number already pays (unordered count over
    # the partition; df_tbl's inner join is row-preserving, every
    # shingle is in the DF table by construction), and the prefix
    # frame carries n along instead of re-joining it.
    wid = Window.partitionBy(id_col)
    w = wid.orderBy("doc_freq", "shingle")
    ordered = (
        sh.join(df_tbl, "shingle")
        .withColumn("n", F.count("*").over(wid).cast("long"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
    )
    prefix_len = (
        F.col("n") - F.ceil(F.lit(p) * F.col("n") / F.lit(q)).cast("long") + 1
    )
    pn = ordered.filter(F.col("rn") <= prefix_len).select(
        id_col, "shingle", "n"
    )
    # length filter: J ≤ min/max, so q·min < p·max ⟹ J < p/q — prune
    # impossible pairs before the distinct
    cand = (
        pn.alias("a")
        .join(pn.alias("b"), "shingle")
        .filter(
            (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.lit(q) * F.col("a.n") >= F.lit(p) * F.col("b.n"))
            & (F.lit(q) * F.col("b.n") >= F.lit(p) * F.col("a.n"))
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    arrs = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_set(F.xxhash64("shingle"))).alias("shs"),
        F.count("*").cast("long").alias("n"),
    )
    aa = arrs.select(
        F.col(id_col).alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.col("n").alias("na"),
    )
    bb = arrs.select(
        F.col(id_col).alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.col("n").alias("nb"),
    )
    # J ≥ p/q ⟺ (p+q)·inter ≥ p·(na+nb), integer-exact
    return (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .withColumn(
            "inter_size",
            F.size(F.array_intersect("shs_a", "shs_b")).cast("long"),
        )
        .filter(
            F.lit(p + q) * F.col("inter_size")
            >= F.lit(p) * (F.col("na") + F.col("nb"))
        )
        .select(
            "doc_a",
            "doc_b",
            "inter_size",
            (F.col("na") + F.col("nb") - F.col("inter_size"))
            .cast("long")
            .alias("union_size"),
            F.round(
                F.col("inter_size").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter_size")),
                6,
            ).alias("jaccard"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    band_chars: int = 64,
    head_chars: int = 96,
    max_dist: int = 24,
    max_block_size: int | None = None,
    prefix_chars: int | None = None,
) -> DataFrame:
    """Fuzzy near-dup pairs by edit distance, with equality blocking.

    Classic record-linkage shape: block on cheap exact keys
    (block_cols..., floor(length/band_chars) — true near-dups can't
    differ much in length — and optionally the first prefix_chars
    characters), then verify candidates with levenshtein(head, head)
    over the first head_chars characters. Returns
    (doc_a, doc_b, edit_dist) with doc_a < doc_b and
    edit_dist <= max_dist.

    Scale shape: the self-join is an equi-join on the block key, so the
    quadratic surface is per-block, and block sizes are the whole cost
    model. prefix_chars is the big lever — (lang, band) blocks grow
    linearly with the corpus, so the pair count inside them is
    quadratic in corpus size; a prefix key keeps blocks
    vocabulary-bounded at the cost of missing pairs that differ inside
    the prefix (run multiple passes with different keys for recall, the
    standard record-linkage practice). The levenshtein is thresholded
    (banded O(head·max_dist) DP with early exit, returning -1 above
    max_dist) so verification cost tracks the cutoff, not head².
    max_block_size drops degenerate blocks with a logged count (same
    backstop rationale as cap_buckets: a block that hot carries no
    discriminative signal, and templated corpora should be
    exact-deduped first). AQE skew-join splitting handles the
    merely-hot blocks underneath the cap.
    """
    keys = [*block_cols, "len_band"] + (
        ["__prefix"] if prefix_chars is not None else []
    )
    k = df.select(
        F.col(id_col),
        *block_cols,
        F.floor(F.length(text_col) / F.lit(band_chars))
        .cast("int")
        .alias("len_band"),
        *(
            [F.substring(text_col, 1, prefix_chars).alias("__prefix")]
            if prefix_chars is not None
            else []
        ),
        F.substring(text_col, 1, head_chars).alias("__head"),
    )
    if max_block_size is not None:
        # bounded-collect / distributed-fallback backstop shared with
        # cap_buckets (see _drop_hot_keys)
        k = _drop_hot_keys(k, keys, max_block_size, "edit_distance_pairs")
    a, b = k.alias("a"), k.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in keys:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.levenshtein(
                F.col("a.__head"), F.col("b.__head"), threshold=max_dist
            ).alias("edit_dist"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
    )


def scrub_repeated_spans(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    keep_first: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 —
    re-expressed for Spark): any run of `n` consecutive words whose
    exact sequence appears in >= min_docs distinct documents is
    duplicated text; every word position covered by such a span is
    scrubbed and the document is rebuilt from the surviving words.
    keep_first=True (the paper's semantics) leaves the span intact in
    its lowest-doc_id occurrence and scrubs the copies; False scrubs
    everywhere (boilerplate-removal mode, pair with a higher
    min_docs). Returns (id, cleaned_text, n_words, n_removed) — one row
    per input document, cleaned_text possibly empty.

    This is the operator that catches what DOCUMENT-grain dedup cannot:
    two distinct articles quoting the same syndicated paragraph keep
    their distinct prose and lose only the shared span.

    100 TB shape: suffix arrays (the paper's tool) don't distribute;
    the Spark-native equivalent is stride-1 span keys + one span-grain
    aggregate — rows ~= total corpus words at every stage, all codegen
    (zero Python): posexplode words, sequence-explode spans, count
    distinct docs per span (map-side combinable), explode covered
    positions for flagged spans only, anti-join, rebuild via
    array_sort(collect_list(struct(pos, word))). Span keys here are the
    literal word strings for oracle replay; at petabyte scale hash them
    (xxhash64) — the aggregate is the same shape either way."""
    words = df.select(
        id_col,
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0
        ).alias("_w"),
    )
    pos = words.select(
        id_col, F.posexplode("_w").alias("pos", "word")
    )
    win = (
        words.filter(F.size("_w") >= n)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.size("_w") - n)).alias("p"),
            "_w",
        )
        .select(
            id_col,
            "p",
            F.concat_ws(
                " ",
                F.col("_w")[F.col("p")],
                *[F.col("_w")[F.col("p") + j] for j in range(1, n)],
            ).alias("span"),
        )
    )
    hot = (
        win.select(id_col, "span")
        .distinct()
        .groupBy("span")
        .agg(
            F.count("*").alias("__df"),
            F.min(id_col).alias("__keeper"),
        )
        .filter(F.col("__df") >= min_docs)
    )
    flagged = win.join(hot, "span")
    if keep_first:
        flagged = flagged.filter(F.col(id_col) != F.col("__keeper"))
    bad = flagged.select(
        id_col,
        F.explode(
            F.sequence(F.col("p"), F.col("p") + F.lit(n - 1))
        ).alias("pos"),
    ).distinct()
    kept = pos.join(bad, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("cleaned_text")
    )
    totals = words.select(
        id_col, F.size("_w").cast("long").alias("n_words")
    )
    removed = bad.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_removed")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .join(removed, id_col, "left")
        .select(
            id_col,
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            "n_words",
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


def lsh_banding_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 12,
    bands_list: tuple[int, ...] = (1, 2, 3, 4, 6, 12),
    threshold: float = 0.5,
) -> DataFrame:
    """The LSH BANDING tuning table — the dedup twin of
    similarity.imi_pq_operating_curve: for each banding of the same
    `num_hashes` MinHash signature, report candidate-pair volume,
    exact-verified pairs (char-k-shingle Jaccard >= threshold), and
    precision/recall vs the EXACT all-pairs truth, integer ppm. This
    is the S-curve a dedup owner reads before picking (bands,
    rows_per_band): more bands (fewer rows each) = looser = recall up,
    precision/candidate-cost down; the knee is where verify cost stops
    buying recall. Every bands value must divide num_hashes.

    Cost shape: ONE shingle explode and ONE signature pass shared
    across the whole grid (cached); per bands value the bucket
    self-join is candidate-bounded as in production; the exact truth
    is the inverted-index all-pairs join — QUADRATIC in the input BY
    DESIGN (it is the thing LSH exists to avoid), which is why the
    registered audit clamps to a deterministic sample
    (queries._BANDING_CLAMP) and a 100 TB owner tunes banding on a
    sample too. (A prefix-filtered truth was tried and reverted: at
    t=0.5 the prefix is ~half of every doc's shingles, so the pruning
    pays more in window+DF passes than it saves — measured slower
    than all-pairs at the registered scale.)"""
    bad = [b for b in bands_list if num_hashes % b]
    if bad:
        raise ValueError(
            f"bands {bad} do not divide num_hashes={num_hashes}"
        )
    sh = scoped_cache(shingle_df(df, text_col, id_col, k))
    sigs = scoped_cache(
        minhash_signatures(
            df, text_col, id_col, k, num_hashes, oracle_safe=True, sh=sh
        )
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    inter = (
        sh.select(F.col(id_col).alias("id_a"), "shingle")
        .join(
            sh.select(F.col(id_col).alias("id_b"), "shingle"), "shingle"
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    truth = scoped_cache(
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"),
                         F.col("sz").alias("sz_a")), "id_a")
        .join(
            sizes.select(F.col(id_col).alias("id_b"),
                         F.col("sz").alias("sz_b")), "id_b")
        .filter(
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).cast("double")
            >= threshold
        )
        .select("id_a", "id_b")
    )
    n_true = truth.count()
    if n_true == 0:
        raise ValueError(
            "lsh_banding_curve: zero exact near-dup pairs at this "
            f"threshold ({threshold}) — recall is undefined and the "
            "curve would be vacuous"
        )
    # r13 optimization (guide §2.4): ONE bucket table tagged by banding
    # value feeds ONE self-join + ONE distinct + ONE truth-flagged
    # aggregation for the whole grid — previously each banding paid its
    # own bucket build × 2, pair join, distinct and two aggregates
    # (≈6× the exchanges for the same candidate sets; the per-banding
    # bucket key (bv, band, bucket) keeps the joins disjoint, so the
    # candidate pairs per banding are identical). The grid row set is
    # pinned by a driver-side bands frame so a zero-candidate banding
    # still emits its row, as before.
    bb_entries = []
    for bv in bands_list:
        rpb = num_hashes // bv
        for b in range(bv):
            bb_entries.append(
                F.struct(
                    F.lit(bv).alias("bv"),
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col("sig")[i].cast("string")
                                for i in range(b * rpb, (b + 1) * rpb)
                            ],
                        )
                    ).alias("bucket"),
                )
            )
    allb = sigs.select(
        F.col(id_col), F.explode(F.array(*bb_entries)).alias("bb")
    ).select(id_col, "bb.bv", "bb.band", "bb.bucket")
    cand_all = (
        allb.select(F.col(id_col).alias("id_a"), "bv", "band", "bucket")
        .join(
            allb.select(F.col(id_col).alias("id_b"), "bv", "band", "bucket"),
            ["bv", "band", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("bv", "id_a", "id_b")
        .distinct()
    )
    percell = (
        cand_all.join(
            truth.withColumn("__t", F.lit(1)), ["id_a", "id_b"], "left"
        )
        .groupBy("bv")
        .agg(
            F.count("*").cast("long").alias("__nc"),
            F.sum(F.coalesce(F.col("__t"), F.lit(0)))
            .cast("long")
            .alias("__nv"),
        )
    )
    bands_df = local_frame(
        sigs.sparkSession,
        [(int(b), int(num_hashes // b)) for b in bands_list],
        "bands int, rows_per_band int",
    )
    return (
        bands_df.join(
            percell, bands_df["bands"] == percell["bv"], "left"
        )
        .select(
            "bands",
            "rows_per_band",
            F.coalesce(F.col("__nc"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.coalesce(F.col("__nv"), F.lit(0))
            .cast("long")
            .alias("n_verified"),
        )
        .select(
            "bands",
            "rows_per_band",
            "n_candidates",
            "n_verified",
            F.expr(
                "CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST((1000000 * n_verified) div n_candidates "
                "AS BIGINT) END"
            ).alias("precision_ppm"),
            F.expr(
                f"CAST((1000000 * n_verified) div {n_true} AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("bands")
    )


def churn_classify(
    corpus: DataFrame,
    increment: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    corpus_buckets: DataFrame | None = None,
    corpus_index_path: str | None = None,
) -> DataFrame:
    """Classify a crawl INCREMENT against the standing corpus — the
    one-row churn rollup behind queries.corpus_churn_report: each
    increment doc is `exact` (verbatim re-crawl, raw-md5 content key —
    the dedup_exact convention), else `near` (LSH corpus×increment
    cross-candidates verified by exact char-k-shingle Jaccard >=
    threshold — incremental_lsh_pairs, so candidate cost scales with
    the increment, never corpus²), else `fresh`; plus the fresh
    slice's [a-z0-9] token mass (the usable new training data).

    The synthetic benchmark corpus contains ZERO verbatim-duplicate
    texts at any scale factor (measured), so the exact class is
    documented-vacuous there — tests/test_dedup_similarity.py pins it
    non-vacuously on a constructed fixture (the Gopher-gate
    discipline: vacuous on this corpus, never silently untested).

    100 TB shape: the exact arm is a 16-byte-digest semi-join; the
    near arm prunes the DOC rows to candidate participants BEFORE the
    verify-shingle explode (the semi-join sits below the Generate by
    construction — Catalyst will not push a semi-join under a Generate
    on its own, so pruning after the explode would materialize a
    corpus-wide shingle table just to throw it away); the rollup is
    one row. The daily production form passes `corpus_buckets` from a
    persisted write_lsh_index (incremental_lsh_pairs' corpus_buckets
    path) — then the corpus-side LSH signature pass disappears and the
    audit's explode cost is bounded by the candidate participants, so
    a 10× larger standing corpus at fixed increment costs ~the same
    (see scripts/churn_ladder.py).

    `corpus_index_path` closes the geometry gap the bare
    `corpus_buckets` frame leaves open (r11 ADVICE): buckets read via
    spark.read.parquet BYPASS load_lsh_index's guard, so an index
    persisted under different (k, num_hashes, bands) joins a DISJOINT
    bucket space and silently classifies every near-dup as fresh —
    the exact failure this function's probe exists to catch. Pass the
    index ROOT here and the persisted layout is validated against
    this call's geometry (raising on mismatch); with
    corpus_buckets=None the buckets are also loaded from it through
    the guard, making the safe path the short one. Callers passing a
    bare pre-built frame must thread identical (k, num_hashes, bands)
    into BOTH load_lsh_index and churn_classify themselves."""
    if corpus_index_path is not None:
        idx = load_lsh_index(
            corpus.sparkSession, corpus_index_path,
            k=k, num_hashes=num_hashes, bands=bands,
        )
        if corpus_buckets is None:
            corpus_buckets = idx
    exact = (
        increment.select(id_col, content_hash(text_col).alias("h"))
        .join(
            # no .distinct(): a left-semi probe set needs no dedup —
            # the join's build side is a hash set either way, and the
            # distinct cost a corpus-wide exchange + two hash
            # aggregates for nothing (r13, guide §2.4)
            corpus.select(content_hash(text_col).alias("h")),
            "h",
            "left_semi",
        )
        .select(id_col)
        .distinct()
        .withColumn("__exact", F.lit(True))
    )
    cand = scoped_cache(
        incremental_lsh_pairs(
            None if corpus_buckets is not None else corpus,
            increment,
            text_col,
            id_col,
            k,
            num_hashes,
            bands,
            corpus_buckets=corpus_buckets,
        )
    )
    both = corpus.unionByName(increment)
    # prune at DOC grain first, then explode: only candidate
    # participants' text is ever shingled (output-identical to pruning
    # the exploded table, since shingle_df is per-doc)
    participants = both.join(
        cand.select(F.col("corpus_id").alias(id_col))
        .unionByName(cand.select(F.col("new_id").alias(id_col)))
        .distinct(),
        id_col,
        "left_semi",
    )
    sh = scoped_cache(shingle_df(participants, text_col, id_col, k))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    inter = (
        cand.join(
            sh.withColumnsRenamed({id_col: "corpus_id", "shingle": "sh_a"}),
            "corpus_id",
        )
        .join(
            sh.withColumnsRenamed({id_col: "__b", "shingle": "sh_b"}),
            (F.col("new_id") == F.col("__b"))
            & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("corpus_id", "new_id")
        .agg(F.count("*").alias("inter"))
    )
    near = (
        inter.join(
            sizes.withColumnsRenamed({id_col: "corpus_id", "sz": "sz_a"}),
            "corpus_id",
        )
        .join(
            sizes.withColumnsRenamed({id_col: "new_id", "sz": "sz_b"}),
            "new_id",
        )
        .filter(
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).cast("double")
            >= threshold
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    tc = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit("[a-z0-9]+"), 0)
    ).cast("long")
    cls = (
        increment.select(id_col, tc.alias("tc"))
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            "tc",
            F.when(F.col("__exact"), F.lit("exact"))
            .when(F.col("__near"), F.lit("near"))
            .otherwise(F.lit("fresh"))
            .alias("kind"),
        )
    )
    # aggregate the increment side ALONE, then attach n_corpus by a
    # 1-row cross join: an EMPTY increment (a quiet crawl day) must
    # report (N, 0, 0, 0, 0, 0) like the SQL form, not NULLs — a
    # global agg's sums are NULL over zero rows (coalesced here) and
    # F.first(n_corpus) over the empty cross product would lose the
    # corpus count entirely
    z = F.lit(0).cast("long")
    stats = cls.agg(
        F.count("*").cast("long").alias("n_increment"),
        F.coalesce(
            F.sum(F.when(F.col("kind") == "exact", 1).otherwise(0)), z
        ).cast("long").alias("n_exact_dup"),
        F.coalesce(
            F.sum(F.when(F.col("kind") == "near", 1).otherwise(0)), z
        ).cast("long").alias("n_near_dup"),
        F.coalesce(
            F.sum(F.when(F.col("kind") == "fresh", 1).otherwise(0)), z
        ).cast("long").alias("n_fresh"),
        F.coalesce(
            F.sum(F.when(F.col("kind") == "fresh", F.col("tc"))
                  .otherwise(0)), z
        ).cast("long").alias("fresh_tokens"),
    )
    return (
        corpus.agg(F.count("*").cast("long").alias("n_corpus"))
        .crossJoin(F.broadcast(stats))
        .select(
            "n_corpus", "n_increment", "n_exact_dup", "n_near_dup",
            "n_fresh", "fresh_tokens",
        )
    )
