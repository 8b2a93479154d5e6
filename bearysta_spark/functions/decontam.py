"""Benchmark decontamination: flag corpus documents sharing word
n-grams with an eval/benchmark set (the step every training pipeline
runs before a data release).

Scale shape: the benchmark side is small (thousands of eval docs → a
few million distinct n-grams) and is DISTINCT-ed then broadcast, so the
corpus side — the 100 TB side — does one exploded scan and a broadcast
semi/inner join with NO shuffle of corpus data. The per-doc groupBy
that counts shared grams shuffles only the matching (doc, gram) pairs,
which is tiny (contamination is rare by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bearysta_spark.cachescope import scoped_cache
from bearysta_spark.functions.dedup import _spread


def gram_rows(
    df: DataFrame, n: int, text_col: str, keep_cols: tuple[str, ...]
) -> DataFrame:
    """One row per word n-gram: explode positions, then build the gram
    with plain (whole-stage-codegen) expressions. Deliberately NOT
    `explode(transform(sequence(...)))` — higher-order array builders
    run interpreted with per-row allocation (measured 6× slower on this
    path)."""
    a = F.regexp_extract_all(F.col(text_col), F.lit("[a-z0-9]+"), 0)
    return (
        df.select(*keep_cols, a.alias("__a"))
        .filter(F.size("__a") >= n)
        .select(
            *keep_cols,
            "__a",
            F.explode(F.sequence(F.lit(1), F.size("__a") - (n - 1))).alias("__i"),
        )
        .select(
            *keep_cols,
            F.concat_ws(
                " ",
                *[F.element_at(F.col("__a"), F.col("__i") + j) for j in range(n)],
            ).alias("gram"),
        )
    )


def build_gram_bloom(
    grams: DataFrame,
    nbits: int = 1 << 17,
    num_hashes: int = 4,
    gram_col: str = "gram",
) -> list[int]:
    """Distributed Bloom-filter build over a gram column: each gram sets
    num_hashes bits (xxhash64 seeded 0..k-1, mod nbits) in an nbits-wide
    filter packed into 64-bit words. The bit-setting is pure JVM
    (explode + map-side-combined bit_or on the word index), so the only
    driver-side data is the finished filter: nbits/64 longs — bounded by
    filter GEOMETRY, never by data volume (a 2^27-bit production filter
    is 16 MB regardless of corpus size).

    Returns the packed word list (index w holds bits [64w, 64w+64)).
    """
    nwords = nbits // 64
    # Kirsch-Mitzenmacher double hashing: position_i = h1 + i·h2 (mod
    # nbits) — two xxhash64 evaluations give all num_hashes positions
    # with Bloom FP guarantees intact; Java long overflow wraps
    # identically on build and probe.
    g = grams.select(
        *[
            F.expr(
                f"pmod(pmod(xxhash64(0, {gram_col}), {nbits})"
                f" + {i} * pmod(xxhash64(1, {gram_col}), {nbits}), {nbits})"
            ).alias(f"p{i}")
            for i in range(num_hashes)
        ]
    )
    structs = ", ".join(
        f"struct(cast(p{i} div 64 as int) as w, "
        f"shiftleft(1L, cast(p{i} % 64 as int)) as m)"
        for i in range(num_hashes)
    )
    bits = g.select(F.expr(f"explode(array({structs}))").alias("b")).select(
        "b.w", "b.m"
    )
    words = [0] * nwords
    for r in bits.groupBy("w").agg(F.bit_or("m").alias("m")).collect():
        words[r["w"]] = r["m"]
    return words


def bloom_contains(
    words: list[int], nbits: int, num_hashes: int, gram_col: str = "gram"
):
    """Membership predicate for a packed Bloom filter: all num_hashes
    bit positions of the gram are set. The word array is a foldable
    literal (constant-folded once by Catalyst), the probes are codegen
    shift/mask expressions — zero Python in the scan. No false
    negatives; false positives are eliminated by the exact join that
    follows in contaminated_docs_bloom."""

    def bit_test(i: int) -> str:
        p = (
            f"pmod(pmod(xxhash64(0, {gram_col}), {nbits})"
            f" + {i} * pmod(xxhash64(1, {gram_col}), {nbits}), {nbits})"
        )
        return (
            f"((shiftright(element_at(__bloom, cast({p} div 64 as int) + 1), "
            f"cast({p} % 64 as int)) & 1) = 1)"
        )

    cond = F.expr(" AND ".join(bit_test(i) for i in range(num_hashes)))
    # single literal (one py4j call): building the word array from
    # per-element F.lit costs thousands of driver round-trips per plan
    # construction — measured ~2 s at 2048 words
    import numpy as np

    arr = F.lit(np.asarray(words, dtype=np.int64))
    return arr, cond


def contaminated_docs_bloom(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("source",),
    nbits: int = 1 << 17,
    num_hashes: int = 4,
) -> DataFrame:
    """contaminated_docs with a Bloom prefilter on the corpus gram scan.

    Why a second path: the exact broadcast join ships the full distinct
    benchmark gram set to every executor — at a few hundred million
    grams that broadcast is tens of GB and stops fitting. The Bloom
    filter carries the same membership signal at ~10 bits/entry (a
    16 MB literal for 2^27 bits), the scan-side probe drops the ~99%+
    of corpus grams that can't match, and only Bloom survivors reach the
    exact join. That join carries no broadcast hint: AQE broadcasts the
    bench grams while their measured size fits the threshold and
    otherwise shuffles on the gram key, which is affordable precisely
    because the Bloom probe already shrank the corpus side. Result is
    IDENTICAL to contaminated_docs (no false negatives; FPs die in the
    exact join)."""
    # cached: materialized once by the Bloom build, reused by the exact
    # verify join (otherwise the benchmark gram explode runs twice)
    bench_grams = scoped_cache(gram_rows(bench, n, text_col, ()).distinct())
    words = build_gram_bloom(bench_grams, nbits, num_hashes)
    arr, cond = bloom_contains(words, nbits, num_hashes)
    doc_grams = gram_rows(_spread(corpus), n, text_col, (id_col, *keep_cols))
    survivors = (
        doc_grams.withColumn("__bloom", arr).filter(cond).drop("__bloom")
    )
    return (
        survivors.join(bench_grams, "gram")
        .groupBy(id_col, *keep_cols)
        .agg(F.count_distinct("gram").cast("long").alias("shared_grams"))
    )


def contaminated_docs(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Corpus docs sharing ≥1 word n-gram with any benchmark doc, with
    the count of distinct shared grams. Returns (id, *keep_cols,
    shared_grams).

    Contract: `bench` must be a genuinely small eval/benchmark set —
    its distinct gram table is hard-broadcast. When the "benchmark"
    side is corpus-proportional (e.g. a 10% validation split), use
    contaminated_docs_bloom: identical results, no broadcast hint (AQE
    picks the join from measured sizes), and a Bloom prefilter so a
    shuffle join only moves surviving grams."""
    bench_grams = gram_rows(bench, n, text_col, ()).distinct()
    doc_grams = gram_rows(_spread(corpus), n, text_col, (id_col, *keep_cols))
    # Join BEFORE any distinct: the broadcast join filters corpus grams
    # map-side, so only the (rare) matching pairs ever shuffle — a
    # pre-join .distinct() would shuffle every gram of the 100 TB side.
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col, *keep_cols)
        .agg(F.count_distinct("gram").cast("long").alias("shared_grams"))
    )


def train_anchor_rows(
    df: DataFrame,
    window: int,
    stride: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, __p, akey) rows: the `window`-char substring at every
    position 1, 1+stride, ... of each text — the train side of the
    exact-substring machinery, shared by the inline audit
    (substring_anchor_hits), the streaming arm, and the composed
    pipeline's stage 5b so the anchor grid cannot drift between them.
    Texts shorter than the window carry no key (sequence(1, 0, s) is
    an error, not empty — filtered, not clamped)."""
    w, st = int(window), int(stride)
    return (
        df.filter(F.length(text_col) >= w)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.lit(1), F.length(text_col) - (w - 1), F.lit(st)
                )
            ).alias("__p"),
            F.col(text_col).alias("__t"),
        )
        .select(
            id_col, "__p",
            F.substring("__t", F.col("__p"), F.lit(w)).alias("akey"),
        )
    )


def contaminated_doc_ids(
    df: DataFrame,
    akeys: DataFrame,
    window: int,
    stride: int,
    min_anchors: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ids of documents whose stride-sampled anchors match >=
    `min_anchors` keys of `akeys` (an (akey) frame, e.g. the loaded
    eval anchor index) — the drop decision both streaming substring
    arms share (start_streaming_substring_decontam and the composed
    pipeline's stage 5b call THIS, so the semantics cannot drift)."""
    return (
        train_anchor_rows(df, window, stride, id_col, text_col)
        .join(akeys.select("akey"), "akey", "left_semi")
        .groupBy(id_col)
        .agg(F.count_distinct("__p").alias("__na"))
        .filter(F.col("__na") >= int(min_anchors))
        .select(id_col)
    )


def substring_anchor_hits(
    train: DataFrame,
    eval_df: DataFrame,
    window: int = 20,
    stride: int = 6,
    train_id: str = "doc_id",
    eval_id: str = "eval_id",
    text_col: str = "text",
    eval_windows: DataFrame | None = None,
) -> DataFrame:
    """EXACT-SUBSTRING decontamination (Lee et al. 2022 / the Gopher
    verbatim-overlap arm, r11 VERDICT #3): find eval text that appears
    VERBATIM, at CHARACTER grain, inside training documents — the leak
    class both n-gram arms miss: a snippet shorter than n tokens has
    ZERO n-grams (bloom_decontam finds nothing; containment has
    |G_e| = 0), and token n-grams also blur whitespace/punctuation
    so char-exact overlap is never what they test.

    Method — the sorted-suffix-prefix idea recast as an anchor join
    (the same prefilter→verify economics as prefix_jaccard_pairs, but
    the verify is FREE because the join key IS the evidence):

      train side: the `window`-char substring at every position
        1, 1+stride, 2·stride+1, ... (suffix prefixes at fixed depth,
        sampled at `stride`) — |bytes|/stride rows;
      eval side: the window at EVERY position (exhaustive — the eval
        suite is small by construction), DISTINCT-ed and broadcast;
      equi-join on the literal substring: any shared run of length
        >= window + stride − 1 (the DETECTION GUARANTEE, L) must
        contain a train-side anchor whose window also starts inside
        the eval copy, so it cannot be missed; shorter runs may or
        may not align. The matched key is the shared text itself —
        exact by construction, no hash, no verify pass.

    Returns (train_id, eval_id, n_anchors, train_run_chars) rows:
    n_anchors = distinct matched train anchor positions for the pair;
    train_run_chars = window + (max_run − 1)·stride where max_run is
    the longest run of CONSECUTIVE matched train anchors (positions
    exactly `stride` apart) — the length of the TRAIN-side contiguous
    region whose every stride-window occurs verbatim somewhere in the
    eval text. It equals the longest shared substring whenever the
    matching eval occurrences are themselves contiguous (the planted /
    verbatim-copy case); an eval text that carries the overlapping
    windows at SEPARATE positions can chain a train run without the
    full contiguous string appearing in eval (r12 review finding), so
    the per-pair guarantees are exactly: >= window chars shared
    verbatim (the matched key itself), and a train-side region of
    train_run_chars whose stride-windows are all leaked.

    100 TB shape: the eval window set broadcasts (AQE picks it from its
    measured size, as in the gram arms); the train side is one scan
    emitting |bytes|/stride short rows that die at the broadcast hash
    join — NO shuffle of corpus data; only true hits reach the (pair)
    rollup, which is map-side-combinable. The guarantee knob trades
    scan rows for sensitivity: L = window + stride − 1."""
    w, s = int(window), int(stride)
    if w < 4 or s < 1:
        raise ValueError(f"window >= 4 and stride >= 1 required, got {w}, {s}")
    # texts shorter than the window cannot carry a w-char key (and
    # sequence(1, 0, s) is an error, not empty) — filter, don't clamp.
    # `eval_windows` (a prebuilt (eval_id, akey) frame, e.g. the
    # persisted streaming/decontam.write_eval_anchor_index read back
    # through its window guard) skips the eval-side construction — the
    # inline and persisted forms then share this exact join + rollup,
    # so they cannot drift
    if eval_windows is not None:
        ev = eval_windows.select(
            F.col(eval_id), F.col("akey").alias("__key")
        ).distinct()
    else:
        ev = (
            eval_df.filter(F.length(text_col) >= w)
            .select(
                F.col(eval_id),
                F.explode(
                    F.sequence(F.lit(1), F.length(text_col) - (w - 1))
                ).alias("__p"),
                F.col(text_col).alias("__t"),
            )
            .select(
                eval_id,
                F.substring("__t", F.col("__p"), F.lit(w)).alias("__key"),
            )
            .distinct()
        )
    tr = train_anchor_rows(train, w, s, train_id, text_col).withColumnRenamed(
        "akey", "__key"
    )
    hits = tr.join(ev, "__key").select(train_id, eval_id, "__p")
    # consecutive-anchor runs: anchors are at positions ≡ 1 (mod s), so
    # (p − 1)/s − row_number() is constant within a consecutive run
    # (the gaps-and-islands idiom) — one window + one two-level rollup
    from pyspark.sql import Window

    win = Window.partitionBy(train_id, eval_id).orderBy("__p")
    runs = (
        hits.withColumn(
            "__grp",
            ((F.col("__p") - 1) / s).cast("long")
            - F.row_number().over(win),
        )
        .groupBy(train_id, eval_id, "__grp")
        .agg(F.count("*").alias("__run"))
    )
    return (
        runs.groupBy(train_id, eval_id)
        .agg(
            F.sum("__run").cast("long").alias("n_anchors"),
            F.max("__run").cast("long").alias("max_run"),
        )
        .select(
            train_id,
            eval_id,
            "n_anchors",
            (F.lit(w) + (F.col("max_run") - 1) * F.lit(s))
            .cast("long")
            .alias("train_run_chars"),
        )
    )
