"""Subword tokenization for training-data token budgeting.

The reference's pipelines count whitespace/regex tokens; training-data
budgeting wants tokenizer-fidelity counts (the number a real BPE
tokenizer would bill a document at). Two tokenizers, one scale shape:

- ``bpe_token_counts``: real rank-ordered byte-pair-encoding — the
  GPT-2-style "apply merges in rank order until none apply" encoder —
  over an embedded deterministic merge table (BPE_MERGES).
- ``wordpiece_token_counts``: greedy longest-match against an embedded
  subword vocabulary (WORDPIECE_VOCAB). Chosen because its per-word
  walk is SQL-expressible (a precomputed longest-match step table + a
  recursive position walk), so the driver's DuckDB oracle replays it
  bit-for-bit — the correctness anchor for the whole module.

Scale shape (both): a subword tokenization depends ONLY on the word,
so the Python kernel runs over the DISTINCT word table — which is
vocabulary-bounded (Heaps' law: sublinear in corpus bytes), not
corpus-bounded — and per-document counts come from an equi-join of the
(doc, word) occurrence rows against the per-word counts. The corpus
side stays in JVM codegen (regexp explode + join + sum); Python
touches one row per distinct word per batch, Arrow-batched. The
per-word count table joins with no broadcast hint: AQE broadcasts it
from its measured size and shuffles on the word key when a
pathological corpus blows the vocabulary up.

Vocabulary/merge provenance: hand-written frequency-ordered English
subwords (public knowledge — any real deployment swaps in its model's
published vocab file via the same constants). Words are the lowercased
``[a-z0-9]+`` stream, consistent with functions.text tokenization, and
every single character is in the vocabulary so tokenization is total.

Reference parity note: the reference has no subword tokenizer (its
token counts are whitespace splits, bearysta/aggregate.py); this module
is part of the beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bearysta_spark.functions.dedup import _spread

WORD_PATTERN = "[a-z0-9]+"

# Greedy longest-match vocabulary: multi-char subwords (frequency-ordered
# English units) + every single [a-z0-9] character so the match always
# advances. Order is irrelevant to the algorithm (longest match wins);
# keep it readable.
WORDPIECE_VOCAB: tuple[str, ...] = (
    "tion", "ment", "able", "ness", "ing", "ion", "ent", "ati", "ers",
    "the", "and", "est", "ous", "ive", "ere", "der", "ter", "ght",
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd", "ti",
    "es", "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to",
    "nt", "ng", "se", "ha", "as", "ou", "io", "le", "ve", "co", "me",
    "de", "hi", "ri", "ro", "ic", "ne", "ea", "ra", "ce", "li", "ch",
    "ll", "be", "ma", "si", "om", "ur",
) + tuple("abcdefghijklmnopqrstuvwxyz0123456789")

_WP_SET = frozenset(WORDPIECE_VOCAB)
_WP_MAXLEN = max(len(t) for t in WORDPIECE_VOCAB)

# Rank-ordered BPE merge table: merge (a, b) -> a+b, lowest rank first,
# repeatedly until no listed pair is adjacent. Base symbols are single
# characters, so encoding is total over [a-z0-9]+ words.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("e", "s"), ("t", "i"), ("a", "l"), ("an", "d"), ("in", "g"),
    ("s", "t"), ("a", "r"), ("o", "u"), ("l", "e"), ("o", "f"),
    ("e", "d"), ("i", "s"), ("i", "t"), ("ti", "on"), ("s", "e"),
    ("n", "t"), ("h", "a"), ("c", "o"), ("m", "e"), ("d", "e"),
    ("h", "i"), ("r", "i"), ("r", "o"), ("i", "c"), ("n", "e"),
    ("e", "a"), ("r", "a"), ("c", "e"), ("l", "i"), ("c", "h"),
    ("l", "l"), ("b", "e"), ("m", "a"), ("s", "i"), ("o", "m"),
    ("u", "r"), ("er", "s"), ("en", "t"), ("es", "t"), ("the", "re"),
)

_BPE_RANKS = {pair: i for i, pair in enumerate(BPE_MERGES)}


def make_wordpiece_len(vocab: tuple[str, ...]):
    """Build a greedy longest-match token counter over an arbitrary
    subword vocabulary (see wordpiece_len for the walk). A character
    absent from the vocabulary still advances the walk and bills one
    token (the OOV-char rule), so the counter is total over any word."""
    vs = frozenset(vocab)
    maxlen = max((len(t) for t in vocab), default=1)

    def wp_len(word: str) -> int:
        n = 0
        p = 0
        wl = len(word)
        while p < wl:
            ln = min(maxlen, wl - p)
            while ln > 1 and word[p : p + ln] not in vs:
                ln -= 1
            p += ln
            n += 1
        return n

    return wp_len


def make_bpe_len(merges: tuple[tuple[str, str], ...]):
    """Build a rank-ordered BPE token counter over an arbitrary merge
    table (see bpe_len for the loop). The table must be well-formed
    (check_well_formed_merges) for the SQL oracle to replay it."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def b_len(word: str) -> int:
        syms = list(word)
        while len(syms) > 1:
            pairs = {(syms[i], syms[i + 1]) for i in range(len(syms) - 1)}
            ranked = [(ranks[p], p) for p in pairs if p in ranks]
            if not ranked:
                break
            _, (a, b) = min(ranked)
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    return b_len


#: Token count of one word under greedy longest-match over the embedded
#: default vocabulary: at each position take the longest vocabulary
#: entry prefixing the remainder (single-char fallback always matches).
#: Pure function — the Spark kernel, the tests, and the SQL-oracle
#: generator all agree on it.
wordpiece_len = make_wordpiece_len(WORDPIECE_VOCAB)

#: Token count of one word under rank-ordered BPE over the embedded
#: default merge table: repeatedly merge the adjacent pair with the
#: lowest merge rank (all its occurrences, left to right) until no
#: listed pair remains — the standard BPE encode loop.
bpe_len = make_bpe_len(BPE_MERGES)


def load_gpt2_merges(path: str) -> tuple[tuple[str, str], ...]:
    """Load a GPT-2-format merges.txt: one ``a b`` pair per line in
    learned (= rank) order; a ``#version``-style header line and blanks
    are skipped. Learned tables are well-formed by construction, but it
    is asserted anyway (check_well_formed_merges) because the SQL
    oracle's equivalence proof depends on it."""
    merges: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as f:
        for lineno, line in enumerate(f):
            line = line.rstrip("\n")
            # only the FIRST line may be a '#version'-style header — a
            # later line starting with '#' is a real merge ('#' tokens
            # are legitimate: GPT-2's table builds '##', '###', ...)
            if not line or (lineno == 0 and line.startswith("#")):
                continue
            a, _, b = line.partition(" ")
            merges.append((a, b))
    table = tuple(merges)
    check_well_formed_merges(table)
    return table


def load_vocab_file(path: str) -> tuple[str, ...]:
    """Load a subword vocabulary from a public-format file: either a
    GPT-2-style ``vocab.json`` (token→id dict, or a plain JSON list) or
    a BERT-style ``vocab.txt`` (one token per line). BERT's ``##``
    continuation prefix is stripped (this module's greedy matcher is
    position-independent) and bracketed special tokens ([CLS], <pad>,
    ...) are dropped."""
    import json

    if path.endswith(".json"):
        with open(path, encoding="utf-8") as f:
            obj = json.load(f)
        toks = list(obj.keys()) if isinstance(obj, dict) else list(obj)
    else:
        with open(path, encoding="utf-8") as f:
            toks = [line.rstrip("\n") for line in f if line.strip()]
    out = []
    for t in toks:
        if (t.startswith("[") and t.endswith("]")) or (
            t.startswith("<") and t.endswith(">")
        ):
            continue
        out.append(t[2:] if t.startswith("##") else t)
    return tuple(tok for tok in out if tok)


def word_occurrences(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, word) rows: the lowercased [a-z0-9]+ stream, one row per
    occurrence. Scan-side codegen — the corpus-proportional frame that
    must never pass through Python. _spread rebalances ahead of the
    ~100-300x row explode (the documents table often arrives as a
    single input split — same rationale as dedup.shingle_rows)."""
    return _spread(df).select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_PATTERN), 0)
        ).alias("word"),
    )


def _distinct_word_counts(occ: DataFrame, counter) -> DataFrame:
    """(word, n_tokens) for every distinct word via an Arrow-batched
    kernel — the only Python in the pipeline, over the
    vocabulary-bounded distinct-word table."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            words = pdf["word"]
            yield pd.DataFrame(
                {
                    "word": words,
                    "n_tokens": [counter(w) for w in words],
                }
            )

    return occ.select("word").distinct().mapInPandas(
        kernel, "word string, n_tokens int"
    )


def _token_counts(
    df: DataFrame,
    counter,
    text_col: str,
    id_col: str,
    occ: DataFrame | None = None,
) -> DataFrame:
    # occ: a caller-supplied (id, word) occurrence frame — callers that
    # bill SEVERAL tokenizers against one corpus (the fertility
    # agreement report) scope-cache one tokenization and share it, so
    # the corpus is tokenized once instead of once per tokenizer (r14,
    # guide §2.4). Must be word_occurrences(df, text_col, id_col)
    # semantically; None keeps the self-contained single-query shape.
    if occ is None:
        occ = word_occurrences(df, text_col, id_col)
    counts = _distinct_word_counts(occ, counter)
    return occ.join(counts, "word").groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("n_tokens").cast("long").alias("n_subword_tokens"),
    )


def wordpiece_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: tuple[str, ...] | str | None = None,
    occ: DataFrame | None = None,
) -> DataFrame:
    """Per-document greedy longest-match subword counts:
    (id, n_words, n_subword_tokens). SQL-oracle-replayable — see
    wordpiece_oracle_ctes.

    ``vocab``: None (embedded default), a token tuple, or a path to a
    public-format vocabulary file (vocab.txt / vocab.json —
    load_vocab_file), so the token budget can be billed against a real
    model's tokenizer; the same table feeds the oracle generator."""
    if vocab is None:
        counter = wordpiece_len
    else:
        if isinstance(vocab, str):
            vocab = load_vocab_file(vocab)
        counter = make_wordpiece_len(vocab)
    return _token_counts(df, counter, text_col, id_col, occ=occ)


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges: tuple[tuple[str, str], ...] | str | None = None,
    occ: DataFrame | None = None,
) -> DataFrame:
    """Per-document rank-ordered BPE subword counts:
    (id, n_words, n_subword_tokens). SQL-oracle-replayable — see
    bpe_oracle_ctes (one-leftmost-merge-per-step recursion, equivalent
    for well-formed merge tables).

    ``merges``: None (embedded default), a pair-tuple table, or a path
    to a GPT-2-format merges.txt (load_gpt2_merges), so the token
    budget can be billed against a real model's tokenizer; the same
    table feeds the oracle generator."""
    if merges is None:
        counter = bpe_len
    else:
        if isinstance(merges, str):
            merges = load_gpt2_merges(merges)
        else:
            check_well_formed_merges(merges)
        counter = make_bpe_len(merges)
    return _token_counts(df, counter, text_col, id_col, occ=occ)


def check_well_formed_merges(
    merges: tuple[tuple[str, str], ...]
) -> None:
    """Assert the merge table is well-formed: every multi-char part of a
    merge was itself produced by an EARLIER merge (true by construction
    for learned BPE tables — merges are recorded in the order they were
    learned). This is the property that makes one-merge-at-a-time
    leftmost application (the SQL oracle's recursion step) equivalent to
    the batch merge-all-occurrences loop (bpe_len): merging one
    occurrence of the min-rank pair only creates pairs involving the new
    composite, which well-formedness guarantees have HIGHER rank, so the
    min-rank pair is unchanged while occurrences remain and the leftmost
    scan visits them in the same order as the batch sweep."""
    produced: dict[str, int] = {}
    for rank, (a, b) in enumerate(merges):
        for part in (a, b):
            if len(part) > 1 and produced.get(part, rank) >= rank:
                raise ValueError(
                    f"merge table not well-formed: part {part!r} of merge "
                    f"#{rank} ({a!r},{b!r}) is not produced by an earlier "
                    "merge — the SQL oracle's one-at-a-time recursion "
                    "would diverge from the batch BPE loop"
                )
        produced.setdefault(a + b, rank)


def bpe_oracle_ctes(
    doc_table: str = "documents",
    merges: tuple[tuple[str, str], ...] = BPE_MERGES,
) -> str:
    """DuckDB CTE chain replaying bpe_token_counts exactly:
    `occ(doc_id, word)` and `bpe(word, n_tokens)` for every distinct
    word. The caller's WITH must be RECURSIVE.

    The encode loop is replayed one merge at a time: each recursion step
    finds the minimum-rank merge whose pair is adjacent in the word's
    current symbol sequence (symbols space-delimited with sentinel
    spaces, so `instr` matches exactly at symbol boundaries) and splices
    the LEFTMOST occurrence. check_well_formed_merges proves this
    equivalent to bpe_len's merge-all-occurrences batch loop; rows per
    word are bounded by len(word) (every step removes one symbol). The
    merge literal is generated from the same table the Spark kernel
    uses, so the engines cannot drift. Merge pairs containing
    characters outside [a-z0-9] can never be adjacent inside a
    WORD_PATTERN word, so they are dropped from the SQL literal (rank
    order preserved) — external model tables stay quotable as SQL
    without changing the replay."""
    import re as _re

    check_well_formed_merges(merges)
    alnum = _re.compile(r"^[a-z0-9]+$")
    mvals = ", ".join(
        f"({i}, '{a}', '{b}')"
        for i, (a, b) in enumerate(merges)
        if alnum.match(a) and alnum.match(b)
    )
    if not mvals:
        # every merge filtered out: emit one unmatchable row (multi-char
        # parts never occur as base symbols and no composite can form
        # from this single merge) so the VALUES list stays valid SQL
        mvals = "(0, 'zzunmatchable', 'zzunmatchable')"
    return f"""
    occ AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS word
      FROM {doc_table}
    ), dw AS (SELECT DISTINCT word FROM occ),
    merges(rank, a, b) AS (VALUES {mvals}),
    bw AS (
      SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
      FROM dw
      UNION ALL
      SELECT w.word,
             substr(w.seq, 1, best.pos - 1) || ' ' || best.ab || ' ' ||
             substr(w.seq, best.pos + best.patlen)
      FROM bw w, LATERAL (
        SELECT m.a || m.b AS ab,
               instr(w.seq, ' ' || m.a || ' ' || m.b || ' ') AS pos,
               length(m.a) + length(m.b) + 3 AS patlen
        FROM merges m
        WHERE instr(w.seq, ' ' || m.a || ' ' || m.b || ' ') > 0
        ORDER BY m.rank LIMIT 1
      ) best
    ),
    bpe AS (
      SELECT word,
             CAST(min(length(seq) - length(replace(seq, ' ', '')) - 1)
                  AS INT) AS n_tokens
      FROM bw GROUP BY word
    )"""


def wordpiece_oracle_ctes(
    doc_table: str = "documents",
    vocab: tuple[str, ...] = WORDPIECE_VOCAB,
) -> str:
    """DuckDB CTE chain replaying wordpiece_token_counts exactly:
    `occ(doc_id, word)`, and `wp(word, n_tokens)` for every distinct
    word. The greedy walk is a precomputed longest-match step table
    (positions via list comprehension + unnest — DuckDB has no lateral
    generate_series) plus a recursive position walk; the caller's WITH
    must be RECURSIVE. The vocabulary literal is generated from the
    same table the Spark kernel uses (embedded default or an external
    vocab file's tokens), so the two engines cannot drift."""
    import re as _re

    alnum = _re.compile(r"^[a-z0-9]+$")
    # tokens outside [a-z0-9]+ can never prefix a WORD_PATTERN word —
    # dropping them keeps external vocab files quotable as SQL without
    # changing the replay (single chars stay total via the OOV rule)
    vocab = ", ".join(f"'{t}'" for t in vocab if alnum.match(t))
    if not vocab:
        vocab = "'zzunmatchable'"  # keep the list literal typed/valid
    return f"""
    occ AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS word
      FROM {doc_table}
    ), dw AS (SELECT DISTINCT word FROM occ),
    vocab AS (SELECT unnest([{vocab}]) AS tok),
    steps AS (
      -- longest vocab match at each position; no match -> step 1 (the
      -- OOV-char rule: a character absent from the vocabulary still
      -- advances the walk and bills one token), so the walk is total
      -- for EXTERNAL vocabularies too, not just the embedded one that
      -- contains every single character
      SELECT q.word, q.p, greatest(coalesce(max(len(v.tok)), 1), 1) AS step
      FROM (SELECT word, unnest([i for i in range(1, len(word) + 1)]) AS p
            FROM dw) q
      LEFT JOIN vocab v ON substr(q.word, q.p, len(v.tok)) = v.tok
      GROUP BY q.word, q.p
    ),
    walk AS (
      SELECT word, 1 AS p, 0 AS n FROM dw
      UNION ALL
      SELECT s.word, walk.p + s.step, walk.n + 1
      FROM walk JOIN steps s ON s.word = walk.word AND s.p = walk.p
    ),
    wp AS (
      SELECT word, CAST(max(n) AS INT) AS n_tokens
      FROM walk WHERE p > len(word) GROUP BY word
    )"""


def bpe_train(
    words: DataFrame, num_merges: int = 10, return_state: bool = False
):
    """Distributed BPE TRAINING (Sennrich et al. 2016 learn-merges loop,
    re-expressed relationally): from a (word, freq) vocabulary table,
    learn `num_merges` merges — per round, count every adjacent symbol
    pair weighted by word frequency, pick the most frequent (ties:
    count DESC, then pair lexicographic — deterministic across
    engines), and batch-apply it leftmost-greedy-non-overlapping to
    every word. Returns [(left, right, pair_count), ...] in learned
    (= rank) order; the table is well-formed by construction, so it
    plugs straight into make_bpe_len / bpe_oracle_ctes. With
    return_state=True, returns (merges, state) where state is the
    final (word, freq, pos, sym) frame — one row per symbol of each
    word under the learned table, i.e. the trained tokenization of the
    vocabulary, ready for per-word token counts without re-encoding.

    Everything is JVM codegen — no Python kernel at all:
    - state: (word, freq, pos, sym) rows, one per current symbol;
      vocabulary-char-bounded (Heaps-sublinear in corpus bytes), NEVER
      corpus-bounded;
    - pair counts: lead() window per word + a weighted group-agg;
    - the argmax is a 1-row bounded collect per round (the merge table
      IS driver-sized model state — K rows total);
    - leftmost-greedy application is pure window algebra: candidate
      positions chain into runs when one candidate's npos is the next
      candidate's pos (only possible for self-pairs like (a,a) in
      'aaaa'), and every odd row_number within a run is selected —
      exactly the scan-left-skip-after-merge loop, without a scan;
    - each round's state is materialized to scratch parquet
      (scratch.materialize_distributed) and re-read, so the logical
      plan stays CONSTANT-SIZE across rounds (each round references
      its state ~4×; persist() would leave the plan growing
      multiplicatively until plan stringification alone OOMs the
      driver) and zero blocks are ever pinned (no persist at all).

    100 TB shape: rounds are K sequential vocab-bounded jobs (window
    shuffle partitioned by word — max partition = longest word, no
    skew); the corpus is touched only by the caller building the
    (word, freq) table (one scan + one agg)."""
    from pyspark.sql import Window

    from bearysta_spark.scratch import materialize_distributed, path_of

    rows = words.select(
        "word",
        F.col("freq").cast("long").alias("freq"),
        F.posexplode(
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        ).alias("pos", "sym"),
    )
    w = Window.partitionBy("word").orderBy("pos")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    merges: list[tuple[str, str, int]] = []
    cur = materialize_distributed(rows, "bpe")
    for _ in range(num_merges):
        ann = cur.withColumn("nsym", F.lead("sym").over(w)).withColumn(
            "npos", F.lead("pos").over(w)
        )
        best = (
            ann.filter(F.col("nsym").isNotNull())
            .groupBy("sym", "nsym")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("sym"), F.asc("nsym"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["sym"], best[0]["nsym"], int(best[0]["cnt"])
        merges.append((a, b, cnt))
        cand = ann.filter(
            (F.col("sym") == a) & (F.col("nsym") == b)
        ).select("word", "pos", "npos")
        cand = cand.withColumn(
            "brk",
            F.when(F.lag("npos").over(w) == F.col("pos"), F.lit(0)).otherwise(
                F.lit(1)
            ),
        ).withColumn("run", F.sum("brk").over(wcum))
        sel = (
            cand.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("word", "run").orderBy("pos")
                ),
            )
            .filter(F.col("rn") % 2 == 1)
            .select("word", "pos", "npos")
        )
        nxt = (
            cur.join(
                sel.select("word", "pos", F.lit(1).alias("m")),
                ["word", "pos"],
                "left",
            )
            .join(
                sel.select(
                    "word", F.col("npos").alias("pos"), F.lit(1).alias("dl")
                ),
                ["word", "pos"],
                "left",
            )
            .filter(F.col("dl").isNull())
            .select(
                "word",
                "freq",
                "pos",
                F.when(F.col("m") == 1, F.lit(a + b))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
        )
        # truncate the plan EVERY round: one round references its state
        # ~4x (ann, sel x2, nxt itself), so un-truncated growth OOMs
        # plan stringification by ~round 8 — and measured, per-round
        # materialization also beats materialize-every-3 (13.5 s vs
        # 29.2 s at sf0.01: re-deriving 1-2 window rounds per argmax
        # costs more than the vocab-bounded write)
        # superseded round state is deleted after the new write —
        # without this, K merges leak K vocab-sized parquet dirs per
        # call onto (possibly shared) scratch storage
        cur = materialize_distributed(nxt, "bpe", replaces=path_of(cur))
    check_well_formed_merges(tuple((a, b) for a, b, _ in merges))
    if return_state:
        return merges, cur
    # only the merge list escapes — reclaim the final round-state dir,
    # or every call leaks one vocab-sized parquet dir to (possibly
    # shared) scratch storage
    from bearysta_spark.scratch import cleanup

    cleanup(cur)
    return merges


def _bpe_train_stage_ctes(num_merges: int, doc_table: str) -> str:
    """The shared CTE chain for the training-replay oracles: seed
    (words, rows1) + K unrolled stages (annK, bestK, selK, rowsK+1,
    mK). State CTEs are MATERIALIZED — each is referenced by the next
    stage and its own annotate step, and DuckDB would otherwise inline
    the chain multiplicatively. After the chain, `rows{K+1}` is the
    trained tokenization of the vocabulary and m1..mK are the learned
    merges (rank, left, right, pair_count); a stage whose corpus has
    no remaining pair contributes no merge row and leaves state
    unchanged, matching the trainer's early break."""
    parts = [
        f"""words AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS word
        FROM {doc_table})
  GROUP BY word
),
rows1 AS MATERIALIZED (
  SELECT word, freq, i AS pos, word[i] AS sym
  FROM (SELECT word, freq, unnest(range(1, length(word) + 1)) AS i
        FROM words)
)"""
    ]
    for s in range(1, num_merges + 1):
        parts.append(
            f"""ann{s} AS MATERIALIZED (
  SELECT word, freq, pos, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nsym,
         lead(pos) OVER (PARTITION BY word ORDER BY pos) AS npos
  FROM rows{s}
),
best{s} AS MATERIALIZED (
  SELECT sym AS a, nsym AS b, CAST(sum(freq) AS BIGINT) AS cnt
  FROM ann{s} WHERE nsym IS NOT NULL
  GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1
),
sel{s} AS MATERIALIZED (
  SELECT word, pos, npos FROM (
    SELECT word, pos, npos,
           row_number() OVER (PARTITION BY word, run ORDER BY pos) AS rn
    FROM (SELECT word, pos, npos,
                 sum(brk) OVER (PARTITION BY word ORDER BY pos) AS run
          FROM (SELECT word, pos, npos,
                       CASE WHEN lag(npos) OVER (PARTITION BY word ORDER BY pos)
                                 = pos THEN 0 ELSE 1 END AS brk
                FROM (SELECT n.word, n.pos, n.npos
                      FROM ann{s} n JOIN best{s} x
                        ON n.sym = x.a AND n.nsym = x.b))))
  WHERE rn % 2 = 1
),
rows{s + 1} AS MATERIALIZED (
  SELECT r.word, r.freq, r.pos,
         CASE WHEN m.pos IS NOT NULL THEN x.a || x.b ELSE r.sym END AS sym
  FROM rows{s} r
  CROSS JOIN (SELECT coalesce(max(a), '') AS a, coalesce(max(b), '') AS b
              FROM best{s}) x
  LEFT JOIN sel{s} m ON m.word = r.word AND m.pos = r.pos
  LEFT JOIN (SELECT word, npos AS pos FROM sel{s}) dl
         ON dl.word = r.word AND dl.pos = r.pos
  WHERE dl.pos IS NULL
)"""
        )
        parts.append(
            f"m{s} AS (SELECT CAST({s} AS BIGINT) AS rank, a AS left,"
            f" b AS right, cnt AS pair_count FROM best{s})"
        )
    return ",\n".join(parts)


def bpe_train_oracle_sql(num_merges: int = 10, doc_table: str = "documents") -> str:
    """Self-contained DuckDB query replaying bpe_train over the
    lowercased [a-z0-9]+ word stream of `doc_table`: K unrolled stages,
    each one the same window algebra as the Spark round (pair counts ->
    deterministic argmax -> chained-candidate odd-row selection ->
    rebuild). Emits (rank, left, right, pair_count) ORDER BY rank."""
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM m{s}" for s in range(1, num_merges + 1)
    )
    return (
        "WITH "
        + _bpe_train_stage_ctes(num_merges, doc_table)
        + f"\n{union}\nORDER BY rank"
    )


def bpe_trained_compression_oracle_sql(
    num_merges: int = 10, doc_table: str = "documents"
) -> str:
    """DuckDB replay of the train-then-bill pipeline: after the K
    training stages, rows{K+1} IS the vocabulary tokenized under the
    learned table, so per-word token counts are one GROUP BY away —
    no re-encode walk. Emits per-source compression stats (all
    integers until one final division)."""
    k1 = num_merges + 1
    return (
        "WITH "
        + _bpe_train_stage_ctes(num_merges, doc_table)
        + f""",
wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tok
       FROM rows{k1} GROUP BY word),
occ AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS word
  FROM {doc_table}
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(o.word)) AS BIGINT) AS chars_total,
       CAST(sum(w.n_tok) AS BIGINT) AS tokens_total,
       round(CAST(sum(w.n_tok) AS DOUBLE) / count(*), 6) AS tokens_per_word
FROM occ o
JOIN wc w USING (word)
JOIN {doc_table} d USING (doc_id)
GROUP BY d.source
ORDER BY d.source"""
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) Viterbi segmentation
# ---------------------------------------------------------------------------

#: Embedded unigram-LM piece inventory for the registered demo query
#: (production loads a real table with load_sentencepiece_vocab). Costs
#: are EXACT INTEGERS (think round(-1000 * log-prob)): every [a-z0-9]
#: char is present at SP_CHAR_COST so segmentation is always total, and
#: multi-char pieces cost less than their char sum so Viterbi prefers
#: them — including ambiguous overlaps ('th'+'e' vs 't'+'he' vs 'the')
#: that exercise the DP, not just greedy matching.
SP_CHAR_COST = 600
SP_PIECES: tuple[tuple[str, int], ...] = tuple(
    [(c, SP_CHAR_COST) for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
    + [
        ("th", 480), ("he", 470), ("in", 440), ("er", 450), ("an", 455),
        ("re", 460), ("on", 450), ("at", 452), ("en", 456), ("es", 461),
        ("ed", 465), ("or", 457), ("st", 462), ("ar", 458), ("nd", 472),
        ("al", 461), ("nt", 469), ("te", 470), ("ti", 468), ("le", 466),
        ("the", 700), ("ing", 750), ("and", 752), ("ion", 760),
        ("ent", 780), ("ate", 790), ("for", 795), ("tion", 900),
        ("ment", 950), ("ther", 940),
    ]
)
#: oracle stage budget: words longer than this take the documented
#: char fallback (cost = L*SP_CHAR_COST, pieces = L) in BOTH engines —
#: the SQL replay unrolls one DP stage per position
SP_MAX_LEN = 30


def load_sentencepiece_vocab(path: str) -> list[tuple[str, int]]:
    """Parse a SentencePiece ``.vocab`` export (``piece<TAB>score``
    text, one row per piece; scores are log-probs <= 0) into the
    (piece, integer_cost) table viterbi_piece_counts consumes:
    cost = round(-1000 * score) — fixed-point at milli-log grain, the
    same engine-portability argument as classifier_margins. Pieces
    containing characters outside WORD_PATTERN (meta symbols like the
    U+2581 word-boundary marker, <unk>/<s>) are dropped: they can
    never occur inside a [a-z0-9]+ word. Single-char coverage is NOT
    assumed — callers segmenting arbitrary text should verify coverage
    or rely on viterbi_piece_counts' per-char fallback.

    Duplicates collapse to the MINIMUM cost: stripping the marker maps
    both '▁the' and 'the' (present in every real vocab) onto one key,
    and the segmenter must see the BETTER log-prob — it is also the
    only convention under which the Spark DP (a dict lookup) and the
    SQL oracle (a VALUES table where the cheaper row always wins the
    argmin) cannot diverge on a duplicated piece."""
    import re

    best: dict[str, int] = {}
    order: list[str] = []
    pat = re.compile(r"^[a-z0-9]+$")
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or "\t" not in line:
                continue
            piece, score = line.split("\t", 1)
            piece = piece.replace("▁", "")
            if pat.fullmatch(piece):
                cost = round(-1000.0 * float(score))
                if piece not in best:
                    order.append(piece)
                    best[piece] = cost
                else:
                    best[piece] = min(best[piece], cost)
    return [(p, best[p]) for p in order]


def viterbi_piece_counts(
    words: DataFrame,
    pieces=SP_PIECES,
    max_len: int = SP_MAX_LEN,
    char_cost: int = SP_CHAR_COST,
    word_col: str = "word",
) -> DataFrame:
    """Unigram-LM tokenization bill per DISTINCT word: exact-integer
    Viterbi over the piece inventory, minimizing the TUPLE
    (total_cost, n_pieces) — the SentencePiece segmenter's shape with
    the float log-probs replaced by integer costs so the optimum is
    engine-portable (a float Viterbi can flip ties in the last ulp;
    an integer one cannot, and the (cost, n_pieces) tiebreak makes the
    BILL unique even when several segmentations tie on cost).
    Returns (word, sp_cost long, sp_pieces int).

    Words longer than `max_len` take the char fallback
    (cost = L·char_cost, pieces = L) — the bound exists so the SQL
    replay (unigram_viterbi_oracle_sql, one unrolled DP stage per
    position) stays finite, and it is applied identically here.

    100 TB shape: Python touches ONLY the distinct-word table (the
    house tokenizer contract — word_occurrences stays JVM-side); the
    DP is O(L · P_max) ints per word inside an Arrow batch."""
    from collections.abc import Iterator

    by_len: dict[int, dict[str, int]] = {}
    for piece, cost in pieces:
        d = by_len.setdefault(len(piece), {})
        # duplicate pieces keep the CHEAPEST cost — matching both the
        # loader's dedup convention and the SQL oracle, whose argmin
        # over a duplicated VALUES row always takes the cheaper one
        d[piece] = min(int(cost), d.get(piece, 1 << 62))
    lens = sorted(by_len)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        INF = (1 << 62, 1 << 30)
        for pdf in batches:
            rows = []
            for w in pdf[word_col]:
                L = len(w)
                if L > max_len:
                    rows.append((w, L * char_cost, L))
                    continue
                best = [INF] * (L + 1)
                best[0] = (0, 0)
                for i in range(1, L + 1):
                    b = INF
                    for pl in lens:
                        if pl > i:
                            break
                        pc = by_len[pl].get(w[i - pl : i])
                        if pc is None:
                            continue
                        prev = best[i - pl]
                        cand = (prev[0] + pc, prev[1] + 1)
                        if cand < b:
                            b = cand
                    best[i] = b
                cost, np_ = best[L]
                if cost >= INF[0]:  # uncovered char, no char fallback
                    cost, np_ = L * char_cost, L
                rows.append((w, cost, np_))
            yield pd.DataFrame(
                rows, columns=[word_col, "sp_cost", "sp_pieces"]
            )

    return words.select(word_col).mapInPandas(
        gen, f"{word_col} string, sp_cost long, sp_pieces int"
    )


def unigram_viterbi_oracle_sql(
    doc_table: str = "documents",
    pieces=SP_PIECES,
    max_len: int = SP_MAX_LEN,
    char_cost: int = SP_CHAR_COST,
) -> str:
    """SQL replay of viterbi_piece_counts + the per-source bill: the
    DP unrolls one MATERIALIZED stage per word position (the
    bpe_train_oracle_sql idiom). Stage i keeps a sliding window of
    best-(cost, np) rows at positions (i - P_max, i] — older positions
    can never be extended — and a separate accumulator collects each
    word's row the moment i reaches its length, so the chain is
    O(max_len · vocab · P_max), not quadratic in max_len."""
    maxp = max(len(p) for p, _ in pieces)
    vals = ", ".join(f"('{p}', {c})" for p, c in pieces)
    parts = [
        f"""pieces(p, pc) AS (VALUES {vals}),
occ AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}'))
           AS word
  FROM {doc_table}
),
w AS MATERIALIZED (
  SELECT word, length(word) AS L FROM (SELECT DISTINCT word FROM occ)
),
d0 AS (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS np
       FROM w WHERE L <= {max_len}),
f0 AS (SELECT word, CAST(NULL AS BIGINT) AS cost, CAST(NULL AS INT) AS np
       FROM w WHERE 1 = 0)"""
    ]
    for i in range(1, max_len + 1):
        p = i - 1
        parts.append(
            f"""n{i} AS MATERIALIZED (
  SELECT word, cost, np FROM (
    SELECT q.word, q.cost + pieces.pc AS cost, q.np + 1 AS np,
           row_number() OVER (PARTITION BY q.word
             ORDER BY q.cost + pieces.pc ASC, q.np ASC) AS rn
    FROM d{p} q JOIN pieces
      ON q.pos + length(pieces.p) = {i}
     AND substr(q.word, q.pos + 1, length(pieces.p)) = pieces.p
  ) WHERE rn = 1
),
d{i} AS MATERIALIZED (
  SELECT word, pos, cost, np FROM d{p} WHERE pos > {i} - {maxp}
  UNION ALL
  SELECT word, {i} AS pos, cost, np FROM n{i}
),
f{i} AS MATERIALIZED (
  SELECT * FROM f{p}
  UNION ALL
  SELECT n.word, n.cost, CAST(n.np AS INT)
  FROM n{i} n JOIN w ON w.word = n.word AND w.L = {i}
)"""
        )
    parts.append(
        f"""res AS (
  SELECT word, cost, np FROM f{max_len}
  UNION ALL
  SELECT word, CAST({char_cost} AS BIGINT) * L, CAST(L AS INT)
  FROM w WHERE L > {max_len}
  UNION ALL
  -- a piece inventory WITHOUT full single-char coverage can leave a
  -- word unsegmentable: it never reaches f{{L}}, and the engine bills
  -- it by the per-char fallback — mirror that here or the final join
  -- silently drops all its occurrences
  SELECT word, CAST({char_cost} AS BIGINT) * L, CAST(L AS INT)
  FROM w WHERE L <= {max_len}
    AND word NOT IN (SELECT word FROM f{max_len})
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(r.np) AS BIGINT) AS pieces_total,
       CAST(sum(r.cost) AS BIGINT) AS cost_total,
       round(CAST(sum(r.np) AS DOUBLE) / count(*), 6) AS pieces_per_word
FROM occ o
JOIN res r USING (word)
JOIN {doc_table} d USING (doc_id)
GROUP BY d.source
ORDER BY d.source"""
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) TRAINING — EM over the distinct-word
# table (Kudo 2018, arXiv:1804.10959), completing the tokenizer triptych:
# BPE training (bpe_train), unigram segmentation (viterbi_piece_counts),
# and now unigram training.
# ---------------------------------------------------------------------------

#: fixed-point grain for trained piece costs: milli-nats, the same
#: convention as load_sentencepiece_vocab's round(-1000 * score)
UNIGRAM_COST_SCALE = 1000


def _millinat(total: int, cnt: int) -> int:
    """Integer piece cost from counts: floor(1000·ln(total/cnt) + 0.5).
    The ONLY float in the trainer; everything downstream (Viterbi,
    counts, pruning) is exact-integer/exact-string arithmetic. Prefer
    _millinats (the batch form) in the trainer — see its docstring for
    the cross-engine evaluation rule; this scalar form is the
    math.log fallback/reference, bracketed by the differential test
    against an independent Python EM."""
    import math

    return int(
        math.floor(
            UNIGRAM_COST_SCALE * math.log(float(total) / float(cnt)) + 0.5
        )
    )


def _millinats(total: int, cnts: list[int]) -> list[int]:
    """Batch milli-nat costs, evaluated by DuckDB's OWN ln when duckdb
    is importable: DuckDB is statically linked, so its libm need not be
    CPython's, and a 1-ulp disagreement inside floor(x + 0.5) at a .5
    boundary would flip a trained piece cost and fail the oracle hash
    (r09 ADVICE — the one engine-crossing float this repo's fixed-point
    rule couldn't eliminate: the costs are data-dependent, so they
    cannot be injected into the STATIC oracle string as literals the
    way the _PQ_CB_SQL geometry is). Evaluating the exact oracle
    expression shape in the oracle's engine makes engine and replay
    bit-identical BY CONSTRUCTION on any host that runs both. Costs
    are driver-side, inventory-bounded (one small VALUES query per
    M-step); without duckdb (production clusters, where no oracle
    runs) math.log evaluates the same IEEE expression."""
    if not cnts:
        return []
    try:
        import duckdb
    except ImportError:  # pragma: no cover - duckdb is baked in here
        return [_millinat(total, c) for c in cnts]
    vals = ", ".join(f"({i}, {int(c)})" for i, c in enumerate(cnts))
    rows = duckdb.sql(
        f"SELECT CAST(floor({UNIGRAM_COST_SCALE} * ln("
        f"CAST({int(total)} AS DOUBLE) / CAST(c AS DOUBLE)) + 0.5)"
        f" AS BIGINT) FROM (VALUES {vals}) t(i, c) ORDER BY i"
    ).fetchall()
    return [int(r[0]) for r in rows]


def _viterbi_path(word: str, by_len: dict[int, dict[str, int]], lens) -> list[str]:
    """The unique argmin segmentation of `word` under integer piece
    costs, minimizing the TUPLE (cost, n_pieces, path): the path string
    (space-joined pieces, leading separator included) is the final
    tiebreak, so even cost-and-length ties resolve identically in this
    DP, the SQL oracle's row_number ordering, and any independent
    reimplementation — piece COUNTS, not just the bill, are
    engine-portable. Assumes full single-char coverage (the trainer
    guarantees it by construction)."""
    INF = (1 << 62, 1 << 30, "")
    L = len(word)
    best: list[tuple[int, int, str]] = [INF] * (L + 1)
    best[0] = (0, 0, "")
    for i in range(1, L + 1):
        b = INF
        for pl in lens:
            if pl > i:
                break
            pc = by_len[pl].get(word[i - pl : i])
            if pc is None:
                continue
            prev = best[i - pl]
            if prev[0] >= INF[0]:
                continue
            cand = (
                prev[0] + pc,
                prev[1] + 1,
                prev[2] + " " + word[i - pl : i],
            )
            if cand < b:
                b = cand
        best[i] = b
    assert best[L][0] < INF[0], f"uncovered word {word!r} in unigram EM"
    return [p for p in best[L][2].split(" ") if p]


def unigram_train(
    words: DataFrame,
    rounds: int = 2,
    seed_max_piece: int = 4,
    seed_size: int = 120,
    keep_pieces: int = 80,
    max_len: int = 12,
    return_word_bill: bool = False,
):
    """Distributed unigram-LM tokenizer TRAINING: the SentencePiece EM
    loop re-expressed with the house contracts. From a (word, freq)
    vocabulary table:

    - SEED: every substring of length 1..seed_max_piece of every word,
      weighted by word freq (counting every occurrence position — one
      JVM-side explode + hash-agg); the inventory is the top
      `seed_size` substrings by (count DESC, piece ASC) plus ALL
      single characters (so segmentation is total by construction,
      no char-fallback cost constant needed). Costs = milli-nat of
      count/total (_millinat).
    - E-STEP (per round): Viterbi-segment every DISTINCT word under
      the current integer costs (Arrow kernel over the vocab table —
      the only Python, never corpus-grain), minimizing
      (cost, n_pieces, path) so the winning SEGMENTATION — hence the
      counts — is unique and engine-portable; accumulate piece counts
      weighted by word freq. Words longer than `max_len` take the
      per-char fallback count contribution (the bound that keeps the
      SQL replay's unrolled DP finite, applied identically there).
    - M-STEP (per round, driver-side on the inventory-bounded count
      table — the bpe_train bounded-model-state convention): prune
      multi-char pieces to the top `keep_pieces` by (count DESC,
      piece ASC) among those actually used; single chars are always
      retained (coverage) with counts clamped to >= 1; re-cost every
      survivor as milli-nat of count/total.

    Returns the final inventory [(piece, cost, count), ...] sorted by
    piece — (piece, cost) plugs straight into viterbi_piece_counts.
    With return_word_bill=True, returns (inventory, bill) where bill is
    a scratch-materialized (word, sp_cost, sp_pieces) frame segmented
    under the FINAL inventory (the last M-step's re-costed pieces),
    computed on the trainer's own materialized vocab so the
    composition costs no extra corpus scan.
    Replayed stage-for-stage by unigram_train_oracle_sql (unrolled
    MATERIALIZED rounds, the bpe_train_oracle_sql idiom).

    100 TB shape: the corpus is touched EXACTLY ONCE — the incoming
    (word, freq) frame is scratch-materialized up front (bpe_train's
    idiom), because the trainer runs 2 + rounds separate actions (two
    seed collects, one count pass per round) and each would otherwise
    re-derive the word table from the corpus scan. Every later pass is
    one vocab-bounded Arrow job + one hash-agg whose result
    (<= inventory size) is the collected model state. No
    round-over-round plan growth: each round's kernel closes over a
    PLAIN PYTHON dict, so the logical plan is constant-size by
    construction (no per-round materialization needed, unlike
    bpe_train whose state is a frame)."""
    from collections.abc import Iterator

    from bearysta_spark.scratch import cleanup, materialize_distributed

    wf = materialize_distributed(
        words.select("word", F.col("freq").cast("long").alias("freq")),
        "unigram",
    )
    subs = wf.select(
        F.col("freq"),
        F.explode(
            F.expr(
                "flatten(transform("
                f"  filter(sequence(1, {int(seed_max_piece)}),"
                "         l -> l <= length(word)),"
                "  l -> transform(sequence(1, length(word) - l + 1),"
                "                 i -> substring(word, i, l))))"
            )
        ).alias("piece"),
    )
    scnt = subs.groupBy("piece").agg(F.sum("freq").alias("cnt"))
    # r14 (guide §1.2 fewer barriers): the top-seed_size collect and the
    # all-single-chars collect used to be two driver jobs, each re-
    # aggregating the substring explode; one union job shares the agg
    # exchange between the two branches (ReuseExchange), and the dict
    # assignment dedupes pieces appearing in both (identical counts, so
    # the mapping is unchanged — order never mattered: _millinats is
    # elementwise and the inventory is sorted before use)
    seed_rows = (
        scnt.orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(int(seed_size))
        .unionByName(scnt.filter(F.length("piece") == 1))
        .collect()
    )
    counts: dict[str, int] = {}
    for r in seed_rows:
        counts[r["piece"]] = int(r["cnt"])
    total = sum(counts.values())
    inv: dict[str, int] = dict(
        zip(counts, _millinats(total, list(counts.values())))
    )

    for _ in range(int(rounds)):
        by_len: dict[int, dict[str, int]] = {}
        for p, c in inv.items():
            by_len.setdefault(len(p), {})[p] = c
        lens = sorted(by_len)

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                acc: dict[str, int] = {}
                for w, fq in zip(pdf["word"], pdf["freq"]):
                    fq = int(fq)
                    if len(w) > max_len:
                        for ch in w:  # documented char fallback
                            acc[ch] = acc.get(ch, 0) + fq
                        continue
                    for p in _viterbi_path(w, by_len, lens):
                        acc[p] = acc.get(p, 0) + fq
                yield pd.DataFrame(
                    {"piece": list(acc), "cnt": list(acc.values())}
                )

        ecnt = {
            r["piece"]: int(r["cnt"])
            for r in wf.mapInPandas(gen, "piece string, cnt long")
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        }
        multi = sorted(
            (
                (p, ecnt[p])
                for p in inv
                if len(p) > 1 and ecnt.get(p, 0) > 0
            ),
            key=lambda t: (-t[1], t[0]),
        )[: int(keep_pieces)]
        # only single chars can carry a zero observed count (multi-char
        # pieces are filtered to count > 0 above), so the clamp lives
        # on their arm alone — mirroring the oracle's
        # greatest(coalesce(cnt, 0), 1), which likewise applies only to
        # the length-1 branch
        retained = dict(multi)
        for p in inv:
            if len(p) == 1:
                retained[p] = max(ecnt.get(p, 0), 1)
        total = sum(retained.values())
        counts = retained
        inv = dict(
            zip(retained, _millinats(total, list(retained.values())))
        )

    inventory = sorted((p, inv[p], counts[p]) for p in inv)
    if return_word_bill:
        # serve-under-the-trained-inventory bill per DISTINCT word,
        # computed on the ALREADY-materialized vocab table before it is
        # reclaimed — the train-then-bill composition
        # (unigram_trained_compression) costs no extra corpus scan,
        # the bpe_train(return_state=True) convention. Materialized
        # because the caller joins it against the occurrence stream
        # (re-deriving it would re-run the Arrow DP per reference).
        bill = materialize_distributed(
            viterbi_piece_counts(
                wf.select("word"),
                pieces=[(p, c) for p, c, _ in inventory],
                max_len=max_len,
            ),
            "unigram_bill",
        )
        cleanup(wf)
        return inventory, bill
    # only the inventory escapes — reclaim the materialized vocab dir,
    # or every call leaks one vocab-sized parquet dir to (possibly
    # shared) scratch storage (the bpe_train convention)
    cleanup(wf)
    return inventory


def _unigram_train_parts(
    doc_table: str,
    rounds: int,
    seed_max_piece: int,
    seed_size: int,
    keep_pieces: int,
    max_len: int,
) -> list[str]:
    """The unigram-EM training replay as a list of CTE definitions —
    shared by unigram_train_oracle_sql (final SELECT = the inventory)
    and unigram_trained_compression_oracle_sql (which nests the final
    inv{rounds} CTE as the SERVING piece table). occ carries doc_id so
    the compression oracle can bill per source; the training CTEs
    aggregate it away."""
    m = int(seed_max_piece)
    parts = [
        f"""occ AS MATERIALIZED (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{WORD_PATTERN}')) AS word
  FROM {doc_table}
),
wf AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq, length(word) AS L
  FROM occ GROUP BY word
),
subs AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT w.freq,
           unnest(flatten([[substr(w.word, i, l)
                            for i in range(1, w.L - l + 2)]
                           for l in range(1, least({m}, w.L) + 1)])) AS piece
    FROM wf w
  ) GROUP BY piece
),
seedtop AS (
  SELECT piece, cnt FROM (
    SELECT piece, cnt,
           row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
    FROM subs
  ) WHERE rn <= {int(seed_size)}
),
inv0c AS (
  SELECT piece, max(cnt) AS cnt FROM (
    SELECT * FROM seedtop
    UNION ALL
    SELECT piece, cnt FROM subs WHERE length(piece) = 1
  ) GROUP BY piece
),
inv0 AS MATERIALIZED (
  SELECT piece,
         CAST(floor({UNIGRAM_COST_SCALE} * ln(
           CAST((SELECT sum(cnt) FROM inv0c) AS DOUBLE)
           / CAST(cnt AS DOUBLE)) + 0.5) AS BIGINT) AS pc,
         cnt
  FROM inv0c
)"""
    ]
    for r in range(1, int(rounds) + 1):
        pv = f"inv{r - 1}"
        parts.append(
            f"""r{r}d0 AS (
  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS np,
         '' AS path
  FROM wf WHERE L <= {int(max_len)}
),
r{r}f0 AS (
  SELECT word, '' AS path FROM wf WHERE 1 = 0
)"""
        )
        for i in range(1, int(max_len) + 1):
            p = i - 1
            parts.append(
                f"""r{r}n{i} AS MATERIALIZED (
  SELECT word, cost, np, path FROM (
    SELECT q.word, q.cost + v.pc AS cost, q.np + 1 AS np,
           q.path || ' ' || v.piece AS path,
           row_number() OVER (PARTITION BY q.word
             ORDER BY q.cost + v.pc ASC, q.np + 1 ASC,
                      q.path || ' ' || v.piece ASC) AS rn
    FROM r{r}d{p} q JOIN {pv} v
      ON q.pos + length(v.piece) = {i}
     AND substr(q.word, q.pos + 1, length(v.piece)) = v.piece
  ) WHERE rn = 1
),
r{r}d{i} AS MATERIALIZED (
  SELECT word, pos, cost, np, path FROM r{r}d{p}
  WHERE pos > {i} - {m}
  UNION ALL
  SELECT word, {i} AS pos, cost, np, path FROM r{r}n{i}
),
r{r}f{i} AS MATERIALIZED (
  SELECT * FROM r{r}f{p}
  UNION ALL
  SELECT n.word, n.path FROM r{r}n{i} n
  JOIN wf ON wf.word = n.word AND wf.L = {i}
)"""
            )
        parts.append(
            f"""r{r}cnt AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT w.freq,
           unnest(list_filter(string_split(f.path, ' '),
                              p -> p != '')) AS piece
    FROM r{r}f{int(max_len)} f JOIN wf w USING (word)
    UNION ALL
    SELECT w.freq,
           unnest([substr(w.word, i, 1)
                   for i in range(1, w.L + 1)]) AS piece
    FROM wf w WHERE w.L > {int(max_len)}
  ) GROUP BY piece
),
r{r}keep AS (
  SELECT piece, cnt FROM (
    SELECT i.piece, coalesce(c.cnt, 0) AS cnt,
           row_number() OVER (ORDER BY coalesce(c.cnt, 0) DESC,
                              i.piece ASC) AS rn
    FROM {pv} i LEFT JOIN r{r}cnt c USING (piece)
    WHERE length(i.piece) > 1 AND coalesce(c.cnt, 0) > 0
  ) WHERE rn <= {int(keep_pieces)}
  UNION ALL
  SELECT i.piece, greatest(coalesce(c.cnt, 0), 1) AS cnt
  FROM {pv} i LEFT JOIN r{r}cnt c USING (piece)
  WHERE length(i.piece) = 1
),
inv{r} AS MATERIALIZED (
  SELECT piece,
         CAST(floor({UNIGRAM_COST_SCALE} * ln(
           CAST((SELECT sum(cnt) FROM r{r}keep) AS DOUBLE)
           / CAST(cnt AS DOUBLE)) + 0.5) AS BIGINT) AS pc,
         cnt
  FROM r{r}keep
)"""
        )
    return parts


def unigram_train_oracle_sql(
    doc_table: str = "documents",
    rounds: int = 2,
    seed_max_piece: int = 4,
    seed_size: int = 120,
    keep_pieces: int = 80,
    max_len: int = 12,
) -> str:
    """SQL replay of unigram_train, stage for stage (the
    bpe_train_oracle_sql idiom — unrolled MATERIALIZED rounds): seed
    substring counts and top-N + all-chars inventory; then per round an
    unrolled Viterbi DP (one stage per word position, sliding P_max
    window) whose state carries the PATH string so the argmin
    row_number — ordered (cost, n_pieces, path), exactly the engine
    kernel's tuple — yields the same unique segmentation; per-round
    counts from the winning paths (plus the per-char fallback arm for
    words longer than max_len); and the same prune/clamp/milli-nat
    re-cost. Final SELECT is the trained inventory
    (piece, cost, cnt) ordered by piece."""
    parts = _unigram_train_parts(
        doc_table, rounds, seed_max_piece, seed_size, keep_pieces, max_len
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT piece, pc AS cost, CAST(cnt AS BIGINT) AS cnt
FROM inv{int(rounds)} ORDER BY piece"""
    )


def unigram_trained_compression_oracle_sql(
    doc_table: str = "documents",
    rounds: int = 2,
    seed_max_piece: int = 4,
    seed_size: int = 120,
    keep_pieces: int = 80,
    max_len: int = 12,
    char_cost: int = SP_CHAR_COST,
) -> str:
    """Train-then-bill replay: the FULL unigram-EM training oracle
    (_unigram_train_parts — every seed/E/M stage), then a SERVING
    Viterbi DP over the same word table whose piece table is the
    trained inv{rounds} CTE itself (the verdict-asked nesting: the
    serving oracle consumes the training oracle's final stage instead
    of a VALUES literal), then the per-source bill — the
    unigram_viterbi_oracle_sql shape with (cost, np) argmin, the
    long-word char fallback, and the uncovered-word arm (vacuous under
    the trainer's single-char coverage, kept so the arms match the
    engine exactly). Final SELECT: (source, n_words, pieces_total,
    cost_total, pieces_per_word)."""
    parts = _unigram_train_parts(
        doc_table, rounds, seed_max_piece, seed_size, keep_pieces, max_len
    )
    inv = f"inv{int(rounds)}"
    maxp = int(seed_max_piece)
    parts.append(
        f"""sd0 AS (
  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS np
  FROM wf WHERE L <= {int(max_len)}
),
sf0 AS (
  SELECT word, CAST(NULL AS BIGINT) AS cost, CAST(NULL AS INT) AS np
  FROM wf WHERE 1 = 0
)"""
    )
    for i in range(1, int(max_len) + 1):
        p = i - 1
        parts.append(
            f"""sn{i} AS MATERIALIZED (
  SELECT word, cost, np FROM (
    SELECT q.word, q.cost + v.pc AS cost, q.np + 1 AS np,
           row_number() OVER (PARTITION BY q.word
             ORDER BY q.cost + v.pc ASC, q.np ASC) AS rn
    FROM sd{p} q JOIN {inv} v
      ON q.pos + length(v.piece) = {i}
     AND substr(q.word, q.pos + 1, length(v.piece)) = v.piece
  ) WHERE rn = 1
),
sd{i} AS MATERIALIZED (
  SELECT word, pos, cost, np FROM sd{p} WHERE pos > {i} - {maxp}
  UNION ALL
  SELECT word, {i} AS pos, cost, np FROM sn{i}
),
sf{i} AS MATERIALIZED (
  SELECT * FROM sf{p}
  UNION ALL
  SELECT n.word, n.cost, CAST(n.np AS INT)
  FROM sn{i} n JOIN wf ON wf.word = n.word AND wf.L = {i}
)"""
        )
    parts.append(
        f"""sres AS (
  SELECT word, cost, np FROM sf{int(max_len)}
  UNION ALL
  SELECT word, CAST({int(char_cost)} AS BIGINT) * L, CAST(L AS INT)
  FROM wf WHERE L > {int(max_len)}
  UNION ALL
  SELECT word, CAST({int(char_cost)} AS BIGINT) * L, CAST(L AS INT)
  FROM wf WHERE L <= {int(max_len)}
    AND word NOT IN (SELECT word FROM sf{int(max_len)})
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(r.np) AS BIGINT) AS pieces_total,
       CAST(sum(r.cost) AS BIGINT) AS cost_total,
       round(CAST(sum(r.np) AS DOUBLE) / count(*), 6) AS pieces_per_word
FROM occ o
JOIN sres r USING (word)
JOIN {doc_table} d USING (doc_id)
GROUP BY d.source
ORDER BY d.source"""
    )
