"""Streaming curation ingest: the pretrain funnel's streaming twin.

`start_streaming_curation_ingest` runs the batch funnel's gate block
(functions.text.curation_gate_flags — the SAME expressions, so batch
and stream cannot drift) over each micro-batch of documents, then
exact-dedups survivors against a SELF-GROWING norm-key index (every
earlier batch's surviving keys), appends the new survivors' keys, and
emits per-batch funnel counters — the continuously-updated version of
the report pretrain_funnel_report computes over a static corpus.

Exactly-once under foreachBatch replay, by the house construction
(streaming/neardup.py:start_streaming_self_neardup):
- every sink (survivors, counters, index, Bloom sidecar) is
  hive-partitioned by batch_id and written with dynamic partition
  overwrite, so a replayed batch overwrites ITS OWN output instead of
  duplicating it;
- the index probe filters batch_id < current, so a replay that already
  appended its keys cannot dedup the batch against itself (within-batch
  dedup is the explicit min-id step, applied once).

100 TB shape: gates are scan-side expressions; within-batch dedup is a
16-byte-digest hash-agg at batch grain; the cross-batch probe rides a
tall-integer Bloom sidecar (streaming/index.py) — the batch's keys are
first tested against the OR-merge of every earlier batch's Bloom rows
(sidecar-sized, NOT index-sized), definite negatives skip the index
entirely, and only the suspected duplicates take the exact anti-join,
partition-pruned to the suspects' kb buckets. The index side of that
anti-join is a bare scan: survivor keys are unique BY CONSTRUCTION
(surviving means the key was in no earlier batch; within-batch dupes
fell to the min-id keeper; replays overwrite their own partition), and
left-anti joins are insensitive to right-side duplicates anyway, so no
distinct/aggregate ever touches the index (r07 VERDICT finding #1).
Per-batch probe cost therefore tracks the BATCH and the (tiny) sidecar,
not the corpus; Bloom false positives add verify work for a few kb
partitions, never a wrong answer. Long-lived streams bound their
file-listing cost with `compact_curation_index` (replay-safe tier fold,
streaming/index.py). Near-dup removal and decontamination are
deliberately NOT in this loop — they ride the persisted LSH index
streams (start_streaming_near_dup and friends), or use the composed
start_streaming_curation_pipeline below (chaos-tested for twin-equality
with the batch funnel in tests/test_streaming_curation_composed.py).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bearysta_spark.session import local_frame
from bearysta_spark.streaming.index import (
    bloom_rows,
    compact_index,
    ensure_layout,
    read_index_view,
    split_by_bloom,
)

logger = logging.getLogger(__name__)

#: explicit reader schemas: schema inference dies on an all-empty
#: directory (a zero-survivor first batch leaves only _SUCCESS), which
#: would otherwise wedge the stream in a crash loop on every replay
INDEX_SCHEMA = "norm_key string, kb int, batch_id int"
BLOOM_SCHEMA = "kb int, slot int, bits long, batch_id int"

#: default LSH hot-bucket backstop for the composed pipeline AND the
#: batch funnel (pretrain_funnel_report passes the same constant, so
#: the twins share the rule): a (band, bucket) key whose CUMULATIVE
#: membership exceeds this carries no locality signal — its members
#: pair with everything — and generating its candidates costs O(m²)
#: per batch, growing with stream lifetime on templated corpora
#: (r08 VERDICT finding #1). Generous enough that genuine near-dup
#: cliques at micro-batch scale never hit it.
DEFAULT_MAX_BUCKET_SIZE = 10_000

#: default hash-partition fan-out for the LSH index's bucket key: the
#: index is laid out by (batch_id, band, bb = hash(bucket) mod B), so a
#: probe carrying only the batch's (band, bucket) keys prunes the scan
#: to the batch's colliding bb partitions instead of whole bands
#: (r09 VERDICT finding #2). Correctness-load-bearing like the exact
#: probe's kb (persisted via ensure_layout): a probe filtering on a
#: DIFFERENT modulus would read the wrong partitions and silently miss
#: cross-batch near-dups. 16 balances pruning (a small batch reads
#: ~its own share of the index) against per-batch file count
#: (bands × B partition dirs per micro-batch, self-compacted).
DEFAULT_BUCKET_PARTITIONS = 16


def _bb_col(bucket_partitions: int):
    """The LSH index's bucket-hash partition column expression."""
    return F.pmod(F.xxhash64("bucket"), F.lit(bucket_partitions)).cast(
        "int"
    )


def _bloom_root(index_root: str) -> str:
    return index_root.rstrip("/") + "_bloom"


def probe_new_keys(
    wb: DataFrame,
    spark: SparkSession,
    index_root: str,
    batch_id: int,
    buckets: int = 32,
) -> DataFrame:
    """Survivors of `wb` (within-batch-deduped gated rows carrying a
    `kb` column) against every EARLIER batch's keys. Bloom-first exact
    probe: definite negatives bypass the index; suspects verify with a
    left-anti join pruned to their kb partitions. The collect is the
    suspects' distinct kb list — bounded by `buckets`, never by data.

    `buckets` became correctness-load-bearing with the Bloom/kb-pruned
    layout (wb's kb column, the sidecar rows, and the anti-join's
    partition pruning all derive from it), so it is persisted on first
    use and VALIDATED on every probe — a stream restarted with a
    different value fails loudly instead of silently admitting every
    duplicate (r08 review finding)."""
    ensure_layout(spark, index_root, {"buckets": buckets})
    idx = read_index_view(
        spark, index_root, before_batch=batch_id, schema=INDEX_SCHEMA
    )
    if idx is None:
        return wb
    bloom = read_index_view(
        spark, _bloom_root(index_root), before_batch=batch_id,
        schema=BLOOM_SCHEMA,
    )
    if bloom is None:
        # index predates the sidecar (or the sidecar was lost): fall
        # back to the plain exact anti-join over the full index
        return wb.join(idx.select("norm_key"), "norm_key", "left_anti")
    new, suspects = split_by_bloom(
        wb, bloom.drop("batch_id"), "norm_key", kb_col="kb"
    )
    kbs = [r.kb for r in suspects.select("kb").distinct().collect()]
    if not kbs:
        return new
    verified = suspects.join(
        idx.filter(F.col("kb").isin(kbs)).select("norm_key"),
        "norm_key",
        "left_anti",
    )
    return new.unionByName(verified)


def cap_cumulative_buckets(
    bb: DataFrame,
    lsh: DataFrame | None,
    max_bucket_size: int,
    stats_out: dict | None = None,
) -> DataFrame:
    """The streaming twin of functions.dedup.cap_buckets: drop (band,
    bucket) keys whose CUMULATIVE membership — persisted index rows
    plus the current batch's rows — exceeds max_bucket_size, BEFORE
    candidate generation. This bounds per-batch candidate volume by
    construction: without it, one boilerplate bucket accumulates
    members every batch and each new member pairs with ALL prior ones,
    so per-batch work grows linearly in stream age and total work
    quadratically (r08 VERDICT finding #1).

    Measured-count, never silent: the dropped keys and their total
    membership are logged (the _drop_hot_keys discipline, including
    its two regimes: the hot-key set collects driver-side and
    broadcasts only while it fits HOT_KEY_COLLECT_LIMIT — bounded by
    cumulative_rows / max_bucket_size, which a long-lived templated
    stream CAN push past the cap — and otherwise the anti-join stays
    fully distributed). The index-side count only aggregates rows that
    COLLIDE with the batch (semi-join on the batch's bucket keys —
    batch-sized broadcast), so the count rides the same index
    equi-join shape as the probe itself.

    Cap-crossing window (twin-equality fine print): the batch funnel
    applies the same THRESHOLD, but each twin counts its own candidate
    population — the funnel's buckets span the full raw corpus
    (minhash_dedup_verified runs before the gates), the stream's span
    gate+exact-dedup SURVIVORS, cumulatively. The twins are therefore
    equal when each bucket sits on the same side of the cap under BOTH
    counts for the whole run (always true when the cap bites hard from
    batch 0, or never bites); a bucket that crosses mid-stream, or
    whose gate-failing members straddle the threshold, trades exact
    twin-equality for bounded work — loudly, never silently."""
    bcnt = bb.groupBy("band", "bucket").agg(F.count("*").alias("__b"))
    if lsh is None:
        tot = bcnt.withColumn("__sz", F.col("__b"))
    else:
        icnt = (
            lsh.select("band", "bucket")
            .join(
                F.broadcast(bcnt.select("band", "bucket")),
                ["band", "bucket"],
                "left_semi",
            )
            .groupBy("band", "bucket")
            .agg(F.count("*").alias("__i"))
        )
        tot = bcnt.join(icnt, ["band", "bucket"], "left").withColumn(
            "__sz", F.col("__b") + F.coalesce(F.col("__i"), F.lit(0))
        )
    hot = tot.filter(F.col("__sz") > max_bucket_size)
    from bearysta_spark.functions.dedup import HOT_KEY_COLLECT_LIMIT

    if stats_out is not None:
        stats_out.update({"n_capped_buckets": 0, "n_capped_rows": 0})
    # ONE driver action on every path that fits the collect cap: the
    # bounded limit-collect both detects hot keys and carries the
    # stats, so the happy path (no hot bucket — every healthy batch)
    # pays a single job instead of a stats agg plus a key collect
    # (r09 ADVICE)
    hot_rows = hot.limit(HOT_KEY_COLLECT_LIMIT + 1).collect()
    if not hot_rows:
        return bb
    if len(hot_rows) <= HOT_KEY_COLLECT_LIMIT:
        nk = len(hot_rows)
        nr = sum(r["__sz"] for r in hot_rows)
        mx = max(r["__sz"] for r in hot_rows)
        if stats_out is not None:
            stats_out.update(
                {"n_capped_buckets": nk, "n_capped_rows": int(nr)}
            )
        logger.warning(
            "cap_cumulative_buckets: dropping %d LSH buckets over the "
            "cumulative cap %d (largest %d members incl. index, %d rows "
            "total) — their candidates carry no locality signal and grow "
            "with stream age",
            nk, max_bucket_size, mx, nr,
        )
        hot_local = local_frame(
            bb.sparkSession,
            [(r["band"], r["bucket"]) for r in hot_rows],
            bb.select("band", "bucket").schema,
        )
        return bb.join(
            F.broadcast(hot_local), ["band", "bucket"], "left_anti"
        )
    # truncated: the hot-key set exceeds the driver collect cap — one
    # distributed recount for the stats (still logged, never silent),
    # anti-join stays distributed
    stats = hot.agg(
        F.count("*").alias("nk"),
        F.sum("__sz").alias("nr"),
        F.max("__sz").alias("mx"),
    ).collect()[0]
    if stats_out is not None:
        stats_out.update(
            {
                "n_capped_buckets": int(stats["nk"]),
                "n_capped_rows": int(stats["nr"]),
            }
        )
    logger.warning(
        "cap_cumulative_buckets: dropping %d LSH buckets over the "
        "cumulative cap %d (largest %d members incl. index, %d rows "
        "total); the hot-key set exceeds the driver collect cap %d — "
        "keeping the anti-join distributed",
        stats["nk"], max_bucket_size, stats["mx"], stats["nr"],
        HOT_KEY_COLLECT_LIMIT,
    )
    return bb.join(hot.select("band", "bucket"), ["band", "bucket"],
                   "left_anti")


def compact_curation_index(
    spark: SparkSession, index_root: str, upto_batch: int
) -> None:
    """Fold index partitions below the committed batch watermark into
    one tier (and the Bloom sidecar's rows into one bit_or-merged
    tier). Replay-safe and crash-safe per streaming/index.py; probes
    pick the compacted layout up on their next micro-batch without a
    stream restart."""
    compact_index(
        spark, index_root, upto_batch, partition_cols=("batch_id", "kb")
    )
    compact_index(
        spark, _bloom_root(index_root), upto_batch,
        partition_cols=("batch_id",), or_merge=("bits",),
    )


def compact_pipeline_indexes(
    spark: SparkSession, index_root: str, lsh_root: str, upto_batch: int
) -> None:
    """One maintenance call for the composed pipeline's THREE
    self-growing stores: the norm-key index, its Bloom sidecar, and
    the LSH band-bucket index (partitioned by (batch_id, band, bb) —
    bb keeps the fold probe-prunable; its `origin` DATA column keeps
    the out-store text fetch pruning correct after the partition
    batch_id folds into a tier). Same watermark contract as
    compact_curation_index. An index written before the bb layout
    existed cannot be folded by this call — rebuild it (the pipeline's
    ensure_layout refuses to probe it anyway)."""
    compact_curation_index(spark, index_root, upto_batch)
    compact_index(
        spark, lsh_root, upto_batch,
        partition_cols=("batch_id", "band", "bb"),
    )


def start_streaming_curation_pipeline(
    stream_docs: DataFrame,
    index_root: str,
    lsh_root: str,
    out_path: str,
    counters_path: str,
    checkpoint: str,
    lang: str = "en",
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 32,
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    bucket_partitions: int = DEFAULT_BUCKET_PARTITIONS,
    compact_every: int | None = None,
    eval_gram_index: str | None = None,
    decontam_n: int = 8,
    decontam_min_shared: int = 1,
    eval_anchor_index: str | None = None,
    substring_window: int = 16,
    substring_stride: int = 4,
    substring_min_anchors: int = 1,
    classifier_weights: tuple[list[int], int] | None = None,
    classifier_tau_milli: int = 0,
    classifier_word_ngrams: int = 1,
    classifier_model_root: str | None = None,
    drift_model_root: str | None = None,
    mixture_plan_root: str | None = None,
):
    """The FULL streaming curation pipeline: gates → within/cross-batch
    exact dedup → MinHash+LSH near-dup removal with exact Jaccard
    verification — the streaming twin of pretrain_funnel_report's
    stages 1-4 — plus an OPTIONAL stage 5: decontamination against a
    PERSISTED eval-suite gram index (`eval_gram_index`, built with
    streaming/decontam.py:write_eval_gram_index). The funnel's own
    stage 5 draws its eval split FROM the corpus, which is ill-defined
    over an unbounded stream; against a FIXED, versioned eval artifact
    it is well-defined, and composing it here gives the stream the
    full five-stage curation in one loop (a rebuilt index is picked up
    on the next micro-batch, no restart). Twin-equality is
    chaos-tested in tests/test_streaming_curation_composed.py.

    OPTIONAL stage 5b (r12): EXACT-SUBSTRING decontamination against a
    persisted eval ANCHOR index (`eval_anchor_index`, built with
    streaming/decontam.py:write_eval_anchor_index): stage-5 survivors
    whose stride-sampled window substrings match >=
    `substring_min_anchors` index keys are flagged sub_ok = false —
    the character-grain arm for eval snippets too short to carry a
    single word n-gram (stage 5's structural blind spot; see
    queries.eval_substring_decontam). Guarantee: any shared run >=
    substring_window + substring_stride − 1 chars is caught. The index
    is static/external and re-read per batch (re-versioned suites
    picked up without restart; the window layout guard fails a
    width-mismatched rebuild loudly). sub_ok is emitted ALWAYS; the
    curated corpus is the near_ok AND dec_ok AND sub_ok AND clf_ok
    slice, and the counters sink gains a stage-8 "substring" row
    (stage ids are append-only; 8 sits logically between 5 and 6).

    OPTIONAL stage 6: the trained quality-classifier filter.
    `classifier_weights` = (weights_milli, bias_milli) — e.g. the
    output of functions.text.classifier_train, or external .vec
    weights via load_vec_weights — scores stage-5 survivors with
    classifier_margins (exact-integer margins, the weight vector a
    broadcast literal) and keeps margin_milli >= classifier_tau_milli.
    This is the train-then-serve deployment shape of
    quality_classifier_trained_filter composed into the stream; the
    model is static within a stream run (swap = restart, like any
    model artifact), deterministic, and index-free, so the batch twin
    is plain classifier_margins over the same survivor rows
    (chaos-tested equal). `classifier_word_ngrams` must match how the
    weights were trained (fastText wordNgrams=2 models serve with the
    bigram gram stream — hashed_doc_vectors word_ngrams). clf_ok and
    margin_milli are emitted ALWAYS so the out schema is
    configuration-stable; the curated corpus is the near_ok AND dec_ok
    AND clf_ok slice.

    `classifier_model_root` is the PERSISTED-MODEL form of stage 6
    (mutually exclusive with `classifier_weights` — both raises): the
    root of a functions.text.write_classifier_model artifact. The
    weights, bias, AND geometry come from the versioned marker, read
    EVERY micro-batch — so a retrained/republished model is picked up
    on the next batch without restart (the drift-model pickup
    protocol), and the load passes load_classifier_model's geometry
    guard with `classifier_word_ngrams` so a model retrained under a
    different gram stream REFUSES to serve instead of silently
    mispricing (the r11 geometry-guard lesson). A missing model raises
    loudly — serving never creates model state. Rebuild pickup is
    chaos-tested in tests/test_streaming_curation_composed.py.

    OPTIONAL mixture-sampling stage (r12 VERDICT ask #5):
    `mixture_plan_root` points at a persisted per-domain acceptance
    plan (functions/sampling.py:write_mixture_plan — e.g. the
    (source, rate_ppm) columns of doremi_trained_sample), and each
    batch's curated survivors are DOWNSAMPLED toward the trained
    domain mixture by md5-residue acceptance (mixture_residue_col,
    the exact sampler doremi_trained_sample serves — deterministic,
    so replay keeps the identical subset). mix_ok is emitted ALWAYS
    (true when unconfigured — schema stability); the SHIPPED corpus
    is the near_ok AND dec_ok AND sub_ok AND clf_ok AND mix_ok slice
    and the counters sink gains a stage-9 "mixture" row (append-only
    stage ids; 9 sits logically after the classifier). The plan is
    re-read from the versioned marker EVERY micro-batch, so a
    republished mixture (weights retrained on fresh losses) is picked
    up on the next batch without restart; the marker's residue
    geometry is validated at load (a foreign salt samples a silently
    different subset). A curated doc whose domain is NOT in the plan
    gets mix_ok = false — the batch twin's inner-join semantics
    (doremi_trained_sample only emits planned domains); republish the
    plan to admit a new domain. The drift stage (below) keeps billing
    the PRE-mixture curated slice: drift measures corpus freshness,
    and the mixture thinning is domain-conditionally random, so
    billing the shipped subset would only add sampling noise.

    OPTIONAL drift stage (r10 verdict ask #5): `drift_model_root`
    points at a persisted reference code-length model
    (streaming/drift.py:write_codelen_model, versioned + atomic
    marker). Each batch's CURATED SURVIVORS are then billed under the
    reference vs their own batch-local model (drift_bill — the same
    integer kernel as the standalone monitor) and the counters sink
    gains a stage-7 "drift" row carrying drift_mb and oov_tokens, so
    a pipeline owner reads funnel health AND data freshness from ONE
    sink instead of running a second stream. The drift_mb/oov_tokens
    COLUMNS exist on every counter row regardless of configuration
    (null outside the drift row — the clf_ok schema-stability
    discipline); the drift row's n_tokens is the billed [a-z0-9]
    token mass of the curated slice. A rebuilt reference model is
    picked up on the next micro-batch via the version marker, no
    restart; a missing model raises loudly (the monitor's contract).
    Nonzero-on-shift / ~zero-on-iid is chaos-tested in
    tests/test_streaming_curation_composed.py.

    Semantics (equal to the batch funnel under the ascending-id
    contract — doc ids ascend across batches, as any ingest sequencer
    provides): an exact-dedup survivor is near-dup-DROPPED iff it has a
    verified neighbor (char-k-shingle Jaccard >= threshold) of smaller
    id among ALL exact-dedup survivors — earlier batches' via the
    self-growing LSH band-bucket index, same-batch via the within-batch
    bucket self-join. Matching the funnel's greedy keep-first rule, the
    smaller neighbor blocks EVEN IF it was itself near-dup-dropped, so
    the LSH index and the out store carry every exact survivor; the
    curated corpus is the near_ok = true slice of out_path.

    Sinks (all batch_id-partitioned, dynamic-overwrite, replay-safe):
    - out_path: exact survivors WITH text + near_ok and dec_ok flags
      (dec_ok is constantly true when no eval index is configured, so
      the out schema is stable across configurations; the curated
      corpus is the near_ok AND dec_ok slice). The text is the product
      corpus, and it is what verification of later batches' candidates
      re-reads — fetched by the candidates' origin batches, so the
      read prunes to the few partitions that actually collide;
    - counters_path: per-batch funnel counters, stage 4 = exact+near;
    - index_root (+_bloom): the norm-key exact-dedup index/sidecar;
    - lsh_root: (id, band, bucket, origin) band buckets of every exact
      survivor, partitioned by (batch_id, band, bb) where
      bb = hash(bucket) mod bucket_partitions — the probe and the
      cumulative cap count read only the batch's colliding bb
      partitions instead of whole bands (r09 VERDICT finding #2; the
      modulus is layout-persisted and validated on restart). `origin`
      duplicates the arrival batch as a DATA column so candidate pairs
      can prune the out-store fetch even after compact_index folds the
      partition batch_id into a tier.

    100 TB shape: per-batch cost tracks the batch everywhere except the
    two probes — the exact probe is Bloom-gated and kb-pruned (see
    module docstring), and the LSH probe is a (band, bucket) equi-join
    against the index with candidate-bounded verification (the Jaccard
    join only ever touches bucket-mates, the same contract as
    minhash_dedup_verified), partition-pruned to the batch's bb
    buckets so the scan reads ~|batch bb set|/bucket_partitions of the
    index rather than all of it — with the cumulative hot-bucket
    backstop (cap_cumulative_buckets, `max_bucket_size`): a degenerate
    bucket's candidate volume used to grow with stream lifetime; it is
    bounded by construction, loudly. The only collects are the
    suspects' kb list (<= buckets), the batch's bb list
    (<= bucket_partitions), the candidates' origin-batch list
    (<= batches actually collided with), and the hot-bucket key list
    (<= HOT_KEY_COLLECT_LIMIT + 1, and past the detect row only on
    degenerate input).

    compact_every=N folds all three self-growing stores every N
    batches (after the batch's sinks land, upto_batch = the current
    batch — safe: all earlier batches are checkpoint-committed, and a
    replay of THIS batch rewrites partitions >= it, never folded
    ones), so a long-lived stream bounds its own file-listing cost
    without a second maintenance process."""
    from bearysta_spark.cachescope import release_scoped_caches
    from bearysta_spark.functions.dedup import (
        band_buckets,
        minhash_signatures,
        shingle_df,
    )
    from bearysta_spark.functions.text import curation_gate_flags

    if classifier_weights is not None and classifier_model_root is not None:
        raise ValueError(
            "classifier_weights and classifier_model_root are mutually "
            "exclusive — static weights OR the persisted-model root, "
            "not both (ambiguous which model serves)"
        )

    spark = stream_docs.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # UNLIKE the plain ingest loop (scan-side gates, few actions —
        # recompute is cheaper than pinning), this pipeline's lineage
        # is heavy (bloom split + collect, minhash signatures, origin
        # collect, verify joins) and executes 4+ actions per batch:
        # persist the two hot frames for the batch's duration, released
        # in the finally
        flags = curation_gate_flags(
            batch_df, lang=lang, id_col=id_col, keep=("source", text_col)
        ).persist()
        gated = flags.filter(F.col("lang_ok") & F.col("q_ok"))
        keeper = gated.groupBy("norm_key").agg(F.min(id_col).alias("__k"))
        wb = (
            gated.join(keeper, "norm_key")
            .filter(F.col(id_col) == F.col("__k"))
            .drop("__k")
            .withColumn(
                "kb",
                F.pmod(F.xxhash64("norm_key"), F.lit(buckets)).cast("int"),
            )
        )
        surv = probe_new_keys(
            wb, spark, index_root, batch_id, buckets
        ).persist()

        # ---- near-dup stage over the exact survivors ----
        # bb is persisted: it feeds the cumulative cap count, the
        # within-batch self-join, the cross-probe, AND the index sink
        # (one minhash computation per batch — the sink used to
        # recompute signatures from the written rows, r08 VERDICT
        # efficiency note #5; surv is persisted, so bb's lineage is
        # stable across those actions)
        sigs = minhash_signatures(
            surv, text_col, id_col, k, num_hashes, oracle_safe=True
        )
        # bb rows carry the bucket-hash partition column from birth, so
        # the sink and the probes share one definition; the modulus is
        # correctness-load-bearing (the probe prunes on it) and is
        # persisted/validated like the exact probe's kb
        ensure_layout(
            spark, lsh_root,
            {
                "k": k, "num_hashes": num_hashes, "bands": bands,
                "bucket_partitions": bucket_partitions,
            },
        )
        bb = (
            band_buckets(sigs, id_col, num_hashes, bands)
            .withColumn("bb", _bb_col(bucket_partitions))
            .persist()
        )
        lsh = read_index_view(spark, lsh_root, before_batch=batch_id)
        if lsh is not None:
            # partition pruning (r09 VERDICT finding #2): the batch can
            # only collide inside its own bb partitions, so BOTH the
            # cumulative cap count and the cross-probe read just those —
            # the bb list is bounded by bucket_partitions, never by data
            bbs = [r.bb for r in bb.select("bb").distinct().collect()]
            lsh = lsh.filter(F.col("bb").isin(bbs))
        cap_stats: dict = {"n_capped_buckets": 0, "n_capped_rows": 0}
        bbp = (
            cap_cumulative_buckets(
                bb, lsh, max_bucket_size, stats_out=cap_stats
            )
            if max_bucket_size is not None
            else bb
        )
        within = (
            bbp.select(F.col(id_col).alias("id_a"), "band", "bucket")
            .join(
                bbp.select(F.col(id_col).alias("id_b"), "band", "bucket"),
                ["band", "bucket"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .withColumn("origin", F.lit(None).cast("int"))
        )
        if lsh is None:
            cand = within
        else:
            cross = (
                lsh.select(
                    F.col(id_col).alias("id_a"), "band", "bucket", "origin"
                )
                .join(
                    bbp.select(F.col(id_col).alias("id_b"), "band", "bucket"),
                    ["band", "bucket"],
                )
                # ascending-id contract: the corpus side is always the
                # smaller id; the guard only drops pathological inputs
                .filter(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.min("origin").alias("origin"))
            )
            cand = within.unionByName(cross)

        # exact Jaccard verification, candidate-bounded: batch texts
        # are in hand; corpus candidate texts are fetched from the out
        # store pruned to the candidates' origin batches
        origins = [
            r.origin
            for r in cand.select("origin").distinct().collect()
            if r.origin is not None
        ]
        verify_src = surv.select(id_col, text_col)
        if origins:
            corpus_texts = (
                spark.read.parquet(out_path)
                .filter(F.col("batch_id").isin(origins))
                .select(id_col, text_col)
                .join(
                    cand.select(F.col("id_a").alias(id_col)).distinct(),
                    id_col,
                    "left_semi",
                )
            )
            verify_src = verify_src.unionByName(corpus_texts)
        sh = shingle_df(verify_src, text_col, id_col, k)
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
        pairs = cand.select("id_a", "id_b")
        inter = (
            pairs.join(
                sh.select(F.col(id_col).alias("id_a"),
                          F.col("shingle").alias("sh_a")),
                "id_a",
            )
            .join(
                sh.select(F.col(id_col).alias("__vb"),
                          F.col("shingle").alias("sh_b")),
                (F.col("id_b") == F.col("__vb"))
                & (F.col("sh_a") == F.col("sh_b")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
        dropped = (
            inter.join(
                sizes.select(F.col(id_col).alias("id_a"),
                             F.col("sz").alias("sz_a")),
                "id_a",
            )
            .join(
                sizes.select(F.col(id_col).alias("id_b"),
                             F.col("sz").alias("sz_b")),
                "id_b",
            )
            .filter(
                (
                    F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                ).cast("double")
                >= threshold
            )
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        flagged = surv.join(
            dropped.withColumn("__dup", F.lit(True)), id_col, "left"
        ).withColumn("near_ok", F.coalesce(~F.col("__dup"), F.lit(True))
                     ).drop("__dup")

        # ---- optional stage 5: decontamination against the persisted
        # eval-suite gram index (static/external — reading it per batch
        # never violates the index-read-before-write sequencing
        # invariant, since nothing in this loop writes to it). Only
        # near-ok survivors are checked, matching the funnel's
        # stage-5-over-stage-4 order; dec_ok is emitted ALWAYS so the
        # out schema is configuration-stable.
        if eval_gram_index is not None:
            from bearysta_spark.functions.decontam import gram_rows
            from bearysta_spark.streaming.decontam import (
                INDEX_SCHEMA as _EVAL_SCHEMA,
            )

            eg = (
                spark.read.schema(_EVAL_SCHEMA)
                .parquet(eval_gram_index)
                .select("gram")
            )
            contaminated = (
                gram_rows(
                    flagged.filter("near_ok").select(id_col, text_col),
                    decontam_n, text_col, (id_col,),
                )
                .join(eg, "gram", "left_semi")
                .groupBy(id_col)
                .agg(F.count_distinct("gram").alias("__sg"))
                .filter(F.col("__sg") >= decontam_min_shared)
                .select(id_col)
            )
            flagged = flagged.join(
                contaminated.withColumn("__ct", F.lit(True)), id_col, "left"
            ).withColumn(
                "dec_ok", F.coalesce(~F.col("__ct"), F.lit(True))
            ).drop("__ct")
        else:
            flagged = flagged.withColumn("dec_ok", F.lit(True))

        # ---- optional stage 5b: EXACT-SUBSTRING decontamination
        # against the persisted eval anchor index (r12 — the
        # character-grain arm for eval snippets too short to carry a
        # single word n-gram, which stage 5 is structurally blind to).
        # Static/external like the gram index, re-read per batch (a
        # re-versioned suite is picked up next micro-batch; the window
        # guard makes a width-mismatched rebuild fail loudly instead
        # of silently matching nothing). Checked over stage-5
        # survivors; sub_ok is emitted ALWAYS (schema stability).
        if eval_anchor_index is not None:
            from bearysta_spark.streaming.decontam import (
                load_eval_anchor_index,
            )

            from bearysta_spark.functions.decontam import (
                contaminated_doc_ids,
            )

            akeys = load_eval_anchor_index(
                spark, eval_anchor_index, substring_window
            ).select("akey")
            # the SHARED drop decision (also the standalone streaming
            # arm) — one anchor grid, one min-anchors rule
            leaked = contaminated_doc_ids(
                flagged.filter("near_ok and dec_ok"),
                akeys,
                substring_window,
                substring_stride,
                substring_min_anchors,
                id_col,
                text_col,
            )
            flagged = flagged.join(
                leaked.withColumn("__sl", F.lit(True)), id_col, "left"
            ).withColumn(
                "sub_ok", F.coalesce(~F.col("__sl"), F.lit(True))
            ).drop("__sl")
        else:
            flagged = flagged.withColumn("sub_ok", F.lit(True))

        # ---- optional stage 6: trained quality-classifier filter over
        # stage-5 survivors. Margins are exact integers with the weight
        # vector as a broadcast literal (classifier_margins) — no index,
        # no state, so ordering vs the index sinks is unconstrained.
        if classifier_weights is not None or classifier_model_root is not None:
            from bearysta_spark.functions.text import classifier_margins

            if classifier_model_root is not None:
                # persisted-model serve: marker re-read EVERY batch so
                # a republished model is picked up next micro-batch
                # (the drift-model protocol); the load enforces the
                # gram-stream geometry and raises on a missing model
                from bearysta_spark.functions.text import (
                    load_classifier_model,
                )

                wvec, cmeta = load_classifier_model(
                    spark,
                    classifier_model_root,
                    word_ngrams=classifier_word_ngrams,
                )
                bias = int(cmeta.get("bias_milli", 0))
            else:
                wvec, bias = classifier_weights
            # classifier_word_ngrams must match how the weights were
            # TRAINED (a unigram serve under a bigram-trained model
            # silently misprices every document — the serving-parity
            # rule of quality_classifier_bigram_trained_filter)
            scored = classifier_margins(
                flagged.filter("near_ok and dec_ok and sub_ok")
                .select(id_col, text_col),
                wvec, bias, text_col=text_col, id_col=id_col,
                word_ngrams=classifier_word_ngrams,
            ).select(id_col, "margin_milli")
            s5 = F.col("near_ok") & F.col("dec_ok") & F.col("sub_ok")
            flagged = (
                flagged.join(scored, id_col, "left")
                # a stage-5 survivor with NO margin row is the
                # zero-vector edge (classifier_margins scores only
                # docs with a nonzero hashed dim — signed hashes CAN
                # fully cancel): its true margin is exactly the bias,
                # the serving contract's value, so bill it at bias
                # rather than silently dropping it. Upstream-dropped
                # rows keep a null margin and clf_ok=False — they are
                # outside the curated slice either way.
                .withColumn(
                    "margin_milli",
                    F.when(
                        s5,
                        F.coalesce(
                            F.col("margin_milli"),
                            F.lit(int(bias)).cast("long"),
                        ),
                    ),
                )
                .withColumn(
                    "clf_ok",
                    F.coalesce(
                        F.col("margin_milli") >= classifier_tau_milli,
                        F.lit(False),
                    ),
                )
            )
        else:
            flagged = flagged.withColumn(
                "margin_milli", F.lit(None).cast("long")
            ).withColumn("clf_ok", F.lit(True))

        # ---- optional stage 9: mixture downsampling of the curated
        # slice toward the persisted DoReMi plan. The plan marker is
        # re-read EVERY batch (republish picked up without restart);
        # acceptance is the deterministic md5 residue shared with
        # doremi_trained_sample, so a replayed batch keeps the
        # identical subset. Unplanned domains get mix_ok = false (the
        # batch twin's inner-join semantics).
        if mixture_plan_root is not None:
            from bearysta_spark.functions.sampling import (
                load_mixture_plan,
                mixture_residue_col,
            )

            mplan, _mmeta = load_mixture_plan(spark, mixture_plan_root)
            curated9 = F.col("near_ok") & F.col("dec_ok") & F.col(
                "sub_ok"
            ) & F.col("clf_ok")
            flagged = flagged.join(
                F.broadcast(
                    mplan.select(
                        F.col("dom").alias("source"),
                        F.col("rate_ppm").alias("__rate"),
                    )
                ),
                "source",
                "left",
            ).withColumn(
                "mix_ok",
                F.when(
                    curated9,
                    F.coalesce(
                        mixture_residue_col(id_col) < F.col("__rate"),
                        F.lit(False),
                    ),
                ).otherwise(F.lit(False)),
            ).drop("__rate")
        else:
            flagged = flagged.withColumn("mix_ok", F.lit(True))

        written = (
            flagged.select(
                id_col, "source", "lang", "tc", "norm_key", "kb",
                text_col, "near_ok", "dec_ok", "sub_ok", "margin_milli",
                "clf_ok", "mix_ok",
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        (
            written.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        # the LSH sink writes FIRST, straight from the cached bb: its
        # lineage reaches back through surv to the idx/lsh index scans,
        # and every index-reading plan must execute BEFORE any write
        # touches those index roots within the batch (a write's
        # refreshByPath recaches dependent plans against an in-flux
        # listing — observed as parquet partition-schema assertion
        # failures when bb was flushed after the index sink)
        (
            bb.withColumn("origin", F.lit(batch_id))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "band", "bb")
            .parquet(lsh_root)
        )
        survread = (
            spark.read.schema(written.schema)
            .parquet(out_path)
            .filter(F.col("batch_id") == batch_id)
        )

        def stage(
            n: int, name: str, frame: DataFrame, capped=(0, 0)
        ) -> DataFrame:
            # n_capped_*: nonzero only on the dedup row and only when
            # the hot-bucket cap actually dropped (band, bucket) keys
            # this batch — cap observability for a pipeline owner
            # reading counters_path (r09 VERDICT ask #6; the batch
            # funnel's report carries the same columns). drift_mb /
            # oov_tokens live only on the stage-7 drift row but the
            # columns exist on every row (schema stability).
            return frame.agg(
                F.lit(n).cast("long").alias("stage"),
                F.lit(name).alias("name"),
                F.count("*").cast("long").alias("n_docs"),
                F.coalesce(F.sum("tc"), F.lit(0)).cast("long")
                .alias("n_tokens"),
                F.lit(capped[0]).cast("long").alias("n_capped_buckets"),
                F.lit(capped[1]).cast("long").alias("n_capped_rows"),
                F.lit(None).cast("long").alias("drift_mb"),
                F.lit(None).cast("long").alias("oov_tokens"),
            )

        counters = (
            stage(1, "input", flags)
            .unionByName(stage(2, "lang", flags.filter("lang_ok")))
            .unionByName(stage(3, "quality", gated))
            .unionByName(
                stage(
                    4, "dedup", survread.filter("near_ok"),
                    capped=(
                        cap_stats["n_capped_buckets"],
                        cap_stats["n_capped_rows"],
                    ),
                )
            )
        )
        if eval_gram_index is not None:
            counters = counters.unionByName(
                stage(5, "decontam",
                      survread.filter("near_ok and dec_ok"))
            )
        if eval_anchor_index is not None:
            counters = counters.unionByName(
                stage(8, "substring",
                      survread.filter("near_ok and dec_ok and sub_ok"))
            )
        if classifier_weights is not None or classifier_model_root is not None:
            counters = counters.unionByName(
                stage(6, "classifier",
                      survread.filter(
                          "near_ok and dec_ok and sub_ok and clf_ok"))
            )
        if mixture_plan_root is not None:
            counters = counters.unionByName(
                stage(9, "mixture",
                      survread.filter(
                          "near_ok and dec_ok and sub_ok and clf_ok"
                          " and mix_ok"))
            )
        if drift_model_root is not None:
            # bill the batch's curated survivors under the persisted
            # reference model — the standalone monitor's exact integer
            # kernel, landed as a stage-7 counter row so one sink
            # carries funnel health AND data freshness. A global agg
            # over drift_bill's single constant group guarantees one
            # row even on a zero-survivor batch (the empty-increment
            # churn discipline: explicit zeros, never a missing row).
            from bearysta_spark.streaming.drift import (
                META as _DMETA,
                MODEL_SCHEMA as _DSCHEMA,
                drift_bill,
            )
            from bearysta_spark.streaming.index import _read_json

            meta = _read_json(drift_model_root, _DMETA, spark)
            if meta is None:
                raise ValueError(
                    f"no code-length model meta under {drift_model_root}"
                    " — build the reference with write_codelen_model "
                    "first (the drift stage never creates model state)"
                )
            model = spark.read.schema(_DSCHEMA).parquet(
                f"{drift_model_root}/v{int(meta['version'])}"
            )
            # the FULL curated slice incl. sub_ok: with stage 5b on and
            # the classifier off, clf_ok is constantly true and omitting
            # sub_ok would bill substring-contaminated docs as curated
            # (r12 review finding)
            curated = survread.filter(
                "near_ok and dec_ok and sub_ok and clf_ok"
            )
            bill = drift_bill(
                curated.withColumn("__g", F.lit("all")),
                model,
                int(meta["escape_bits"]),
                group_col="__g",
                text_col=text_col,
            ).agg(
                F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long")
                .alias("__bt"),
                F.coalesce(F.min("drift_mb"), F.lit(0)).cast("long")
                .alias("__dmb"),
                F.coalesce(F.sum("oov_tokens"), F.lit(0)).cast("long")
                .alias("__oov"),
            )
            drift_row = (
                curated.agg(F.count("*").cast("long").alias("n_docs"))
                .crossJoin(F.broadcast(bill))
                .select(
                    F.lit(7).cast("long").alias("stage"),
                    F.lit("drift").alias("name"),
                    "n_docs",
                    F.col("__bt").alias("n_tokens"),
                    F.lit(0).cast("long").alias("n_capped_buckets"),
                    F.lit(0).cast("long").alias("n_capped_rows"),
                    F.col("__dmb").alias("drift_mb"),
                    F.col("__oov").alias("oov_tokens"),
                )
            )
            counters = counters.unionByName(drift_row)
        for frame, path, parts in (
            (counters, counters_path, ("batch_id",)),
            (
                survread.select("norm_key", "kb"),
                index_root,
                ("batch_id", "kb"),
            ),
            (
                bloom_rows(survread, "norm_key", kb_col="kb"),
                _bloom_root(index_root),
                ("batch_id",),
            ),
        ):
            (
                frame.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*parts)
                .parquet(path)
            )
        # same non-finally convention as release_scoped_caches: a
        # failed batch terminates the stream and the restart owns a
        # fresh cache budget; nothing outlives a SUCCESSFUL batch
        bb.unpersist()
        surv.unpersist()
        flags.unpersist()
        release_scoped_caches()
        # auto-compaction cadence: every N batches, fold everything
        # below THIS batch (earlier batches are checkpoint-committed;
        # a replay of this batch rewrites partitions >= batch_id, so
        # the fold never loses a row). Runs after the batch's sinks so
        # its own rows join the next trigger's fold.
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_pipeline_indexes(spark, index_root, lsh_root, batch_id)

    return (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def start_streaming_curation_ingest(
    stream_docs: DataFrame,
    index_root: str,
    out_path: str,
    counters_path: str,
    checkpoint: str,
    lang: str = "en",
    id_col: str = "doc_id",
    buckets: int = 32,
    compact_every: int | None = None,
):
    """Start the gate → exact-dedup → append-index ingest loop.

    stream_docs: streaming frame with (doc_id, text, lang, source).
    Survivor rows (doc_id, source, lang, tc, norm_key) land under
    out_path; per-batch funnel counters (stage, name, n_docs,
    n_tokens) under counters_path; surviving norm keys under
    index_root (+ the Bloom sidecar under index_root + '_bloom') —
    all partitioned by batch_id. compact_every=N folds the index and
    sidecar every N batches (see start_streaming_curation_pipeline)."""
    from bearysta_spark.cachescope import release_scoped_caches
    from bearysta_spark.functions.text import curation_gate_flags

    spark = stream_docs.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # no persist or checkpoint: the gate projection is scan-side
        # and batch-sized, so the few actions below recompute it (the
        # start_streaming_self_neardup convention — nothing stays
        # pinned across batches of a long-running stream)
        flags = curation_gate_flags(
            batch_df, lang=lang, id_col=id_col, keep=("source",)
        )
        gated = flags.filter(F.col("lang_ok") & F.col("q_ok"))
        # within-batch exact dedup: keep the smallest id per norm key
        keeper = gated.groupBy("norm_key").agg(F.min(id_col).alias("__k"))
        wb = (
            gated.join(keeper, "norm_key")
            .filter(F.col(id_col) == F.col("__k"))
            .drop("__k")
            .withColumn(
                "kb",
                F.pmod(F.xxhash64("norm_key"), F.lit(buckets)).cast("int"),
            )
        )
        # cross-batch: drop anything whose key arrived in an EARLIER
        # batch (replay-safe: own keys are batch_id == current)
        surv = probe_new_keys(wb, spark, index_root, batch_id, buckets)

        def stage(n: int, name: str, frame: DataFrame) -> DataFrame:
            return frame.agg(
                F.lit(n).cast("long").alias("stage"),
                F.lit(name).alias("name"),
                F.count("*").cast("long").alias("n_docs"),
                F.coalesce(F.sum("tc"), F.lit(0)).cast("long")
                .alias("n_tokens"),
            )

        # write survivors FIRST, then read the batch-sized result back
        # for the counter, index, and Bloom sinks — the probe (and its
        # index scan) executes once per batch instead of once per sink
        written = (
            surv.select(id_col, "source", "lang", "tc", "norm_key", "kb")
            .withColumn("batch_id", F.lit(batch_id))
        )
        (
            written.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        # explicit schema: a zero-survivor batch leaves out_path
        # holding only _SUCCESS, and schema inference would raise
        # UNABLE_TO_INFER_SCHEMA on every replay — a wedged stream
        survread = (
            spark.read.schema(written.schema)
            .parquet(out_path)
            .filter(F.col("batch_id") == batch_id)
        )
        counters = (
            stage(1, "input", flags)
            .unionByName(stage(2, "lang", flags.filter("lang_ok")))
            .unionByName(stage(3, "quality", gated))
            .unionByName(stage(4, "dedup", survread))
        )
        for frame, path, parts in (
            (counters, counters_path, ("batch_id",)),
            (
                survread.select("norm_key", "kb"),
                index_root,
                ("batch_id", "kb"),
            ),
            (
                bloom_rows(survread, "norm_key", kb_col="kb"),
                _bloom_root(index_root),
                ("batch_id",),
            ),
        ):
            (
                frame.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*parts)
                .parquet(path)
            )
        release_scoped_caches()
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_curation_index(spark, index_root, batch_id)

    return (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )
