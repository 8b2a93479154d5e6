"""Recipe scan sources (SURVEY §2.1 S1-S11).

Spark-first shape of the reference's per-file reader (aggregate.py:134-314):

1. Glob expansion happens on the driver (S1) — file *lists* are metadata,
   not data; at 100 TB the list comes from the object-store listing the
   same way.
2. The line-level regex preprocessor (S3) is inherently sequential per
   file (`append` folds a line into the previous line, chains allowed),
   so it runs as an Arrow-batched mapInPandas over (one file per row)
   whole-file texts: parallel across files, sequential within a file —
   exactly the reference's semantics, scaled out. Runner logs are
   many-small-files, so per-file parallelism is the right axis; a
   single multi-GB log would need a record-boundary splitter instead
   (documented limitation).
3. CSV parsing of surviving lines is distributed (`from_csv` per line
   group), with header sniffing per file (S4: injected header used only
   when the file's first line differs from it).
4. Lineage columns Path/File/Directory (S6) and `.meta` sidecar
   constants (S7) are attached per file; sidecars are driver-loaded
   (tiny YAML) into a JVM-local frame (`session.local_frame`, a
   LocalRelation, so no action replays it through Python workers) and
   broadcast-joined on Path.
5. SQLite (S8) reads driver-side via the stdlib sqlite3 module — a
   sqlite file is single-machine by construction; at scale this input
   becomes JDBC/parquet.
"""

from __future__ import annotations

import glob as globmod
import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from bearysta_spark.cachescope import scoped_cache
from bearysta_spark.engine.recipe import Recipe, RecipeError
from bearysta_spark.session import local_frame

_CHUNK_SPEC = StructType(
    [
        StructField("path", StringType()),
        StructField("chunk_id", IntegerType()),
        StructField("off", LongType()),
        StructField("length", LongType()),
    ]
)


def expand_globs(patterns: list[str]) -> list[str]:
    # absolute paths: the glob resolves against the python process cwd,
    # but a relative path handed to spark.read resolves against the
    # JVM's cwd — not necessarily the same directory
    files: list[str] = []
    for p in patterns:
        files += sorted(os.path.abspath(f) for f in globmod.glob(p))
    return files


def _line_filter_fn_indexed(filters: dict[str, str | None]):
    """Per-file sequential line filter reproducing aggregate.py:195-243:
    patterns tried in order per line; null repl keeps the line, 'drop'
    drops it, 'append' glues it onto the previous line and keeps
    scanning the remaining patterns against the combined line; a line
    matched by nothing is dropped; blank lines implicitly dropped.
    Yields (source_line_idx, output_line) so chunked callers can tell
    which outputs were triggered inside their owned region."""
    compiled = [(re.compile(k), v) for k, v in filters.items()]
    compiled.append((re.compile(r"^[\s]*$"), "drop"))

    def filter_lines(lines: list[str]) -> list[tuple[int, str]]:
        out: list[tuple[int, str]] = []
        prev_line = ""
        for idx, line in enumerate(lines):
            drop_line = True
            for reg, rep in compiled:
                if reg.search(line):
                    drop_line = False
                    if rep:
                        if rep == "drop":
                            drop_line = True
                            break
                        if rep == "append":
                            drop_line = True
                            line = prev_line.rstrip() + " " + line.lstrip()
                        else:
                            line = reg.sub(rep, line)
                            drop_line = False
            if not drop_line:
                out.append((idx, line))
            prev_line = line
        return out

    return filter_lines


def _split_lines(text: str) -> list[str]:
    """One line-boundary definition for both read paths: records split on
    '\\n' only, trailing '\\r's stripped — exactly what the chunked reader
    (_read_chunk) produces. str.splitlines() would also break on lone \\r,
    \\x85, \\u2028 etc., making (line_no, line) depend on whether a file
    crossed the split-files-over-mb threshold."""
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    return [ln.rstrip("\r") for ln in lines]


def _line_filter_fn(filters: dict[str, str | None]):
    indexed = _line_filter_fn_indexed(filters)

    def filter_lines(text: str) -> list[str]:
        return [line for _, line in indexed(_split_lines(text))]

    return filter_lines


def filtered_lines_df(
    spark: SparkSession,
    files: list[str],
    filters: dict[str, str | None] | None,
    split_files_over_mb: float | None = None,
) -> DataFrame:
    """DataFrame of (path, line_no, line) after the line filter.

    Reads whole files (spark.read.text wholetext) so the sequential
    `append` semantics hold; the filter runs in executors via
    mapInPandas (Arrow batches of files). Runner output is many small
    files, so file count is the parallelism axis.

    split_files_over_mb routes files larger than the threshold through
    the record-boundary splitter (chunked_lines_df) instead, so one
    multi-GB file no longer pins a single task/heap — see that function
    for the `append`-context overlap bound."""
    if split_files_over_mb is not None:
        thresh = split_files_over_mb * 1024 * 1024
        big = [f for f in files if os.path.getsize(f) > thresh]
        small = [f for f in files if f not in big]
        if big:
            parts = [chunked_lines_df(spark, big, filters, chunk_mb=split_files_over_mb)]
            if small:
                parts.append(filtered_lines_df(spark, small, filters))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

    text = (
        spark.read.text(files, wholetext=True)
        .withColumn("path", F.input_file_name())
        .select("path", "value")
    )
    fn = _line_filter_fn(filters or {})

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, value in zip(pdf["path"], pdf["value"]):
                for i, line in enumerate(fn(value) if filters else _split_lines(value)):
                    rows.append((path, i, line))
            yield pd.DataFrame(rows, columns=["path", "line_no", "line"])

    return text.mapInPandas(proc, schema="path string, line_no long, line string")


def _read_chunk(
    path: str, off: int, length: int, overlap_lines: int, back_bytes: int = 1 << 20
) -> tuple[list[str], list[str]]:
    """Read one byte-range of a text file at line granularity, Hadoop
    LineRecordReader convention: a chunk at off>0 discards the first
    (possibly partial) line — its predecessor reads one line past its
    end — so every line is owned by exactly one chunk. Returns
    (context_lines, owned_lines): context is up to `overlap_lines`
    complete lines immediately before the owned region, replayed through
    the filter for `append`/prev-line state."""
    end = off + length
    with open(path, "rb") as f:
        f.seek(off)
        if off > 0:
            f.readline()  # belongs to the previous chunk
        start = f.tell()

        ctx: list[str] = []
        if start > 0 and overlap_lines > 0:
            back = min(start, back_bytes)
            f.seek(start - back)
            data = f.read(back)
            parts = data.split(b"\n")
            # data ends exactly at a line start, so the last split piece
            # is ''; the first piece may be a partial line unless we
            # reached byte 0
            pieces = parts[:-1] if parts and parts[-1] == b"" else parts
            if start - back > 0 and pieces:
                pieces = pieces[1:]
            ctx = [
                p.decode("utf-8", errors="replace").rstrip("\r")
                for p in pieces[-overlap_lines:]
            ]
            f.seek(start)

        owned: list[str] = []
        while f.tell() <= end:
            line = f.readline()
            if not line:
                break
            owned.append(line.decode("utf-8", errors="replace").rstrip("\r\n"))
    return ctx, owned


def chunked_lines_df(
    spark: SparkSession,
    files: list[str],
    filters: dict[str, str | None] | None,
    chunk_mb: float = 64.0,
    overlap_lines: int = 8,
) -> DataFrame:
    """Record-boundary splitter: (path, line_no, line) for large single
    files, split into ~chunk_mb byte ranges processed in parallel.

    Why: the wholetext scan is one row (one task, one heap) per file —
    right for runner output (many small files), wrong for one multi-GB
    log. Here the driver plans byte-range chunk specs from file sizes
    (metadata only), executors read their range at line granularity
    (_read_chunk), and the sequential filter replays `overlap_lines` of
    context before each chunk so prev-line state (`append` gluing,
    substitutions) is reconstructed. Correctness bound: a chain of
    consecutive `append` lines longer than overlap_lines would be
    mis-glued — raise overlap_lines to the longest expected wrapped
    record (shipped recipes wrap at most one line).

    Global line_no needs each chunk's output count: a tiny per-chunk
    count aggregate (rows = number of chunks) is cumulative-summed and
    broadcast back — no giant window partition over the file's rows.
    The chunk data is read twice (count pass + emit pass), the standard
    trade for global indexing without materializing the file.
    """
    chunk = int(chunk_mb * 1024 * 1024)
    specs = []
    for fn in files:
        size = os.path.getsize(fn)
        n = max(1, -(-size // chunk))
        for i in range(n):
            specs.append((fn, i, i * chunk, min(chunk, size - i * chunk)))
    sdf = local_frame(spark, specs, _CHUNK_SPEC).repartition(
        min(len(specs), spark.sparkContext.defaultParallelism)
    )
    indexed = _line_filter_fn_indexed(filters or {})
    has_filters = bool(filters)

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, cid, off, length in zip(
                pdf["path"], pdf["chunk_id"], pdf["off"], pdf["length"]
            ):
                ctx, owned = _read_chunk(path, int(off), int(length), overlap_lines)
                if has_filters:
                    outs = [
                        line
                        for idx, line in indexed(ctx + owned)
                        if idx >= len(ctx)
                    ]
                else:
                    outs = owned
                rows.extend((path, int(cid), i, line) for i, line in enumerate(outs))
            yield pd.DataFrame(
                rows, columns=["path", "chunk_id", "local_idx", "line"]
            )

    raw = sdf.mapInPandas(
        proc, schema="path string, chunk_id int, local_idx long, line string"
    )
    counts = raw.groupBy("path", "chunk_id").agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("path")
        .orderBy("chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "offset", F.coalesce(F.sum("n").over(w), F.lit(0))
    ).select("path", "chunk_id", "offset")
    return (
        raw.join(F.broadcast(offsets), ["path", "chunk_id"])
        .select(
            "path",
            (F.col("offset") + F.col("local_idx")).alias("line_no"),
            "line",
        )
    )


def _norm_path(p: str) -> str:
    # input_file_name returns file:/// URIs
    return re.sub(r"^file:/*", "/", p)


def scan_csv(
    spark: SparkSession,
    files: list[str],
    csv_header: str | None = None,
    line_filter: dict[str, str | None] | None = None,
    split_files_over_mb: float | None = None,
) -> DataFrame:
    """Distributed CSV scan with line preprocessing, header sniff,
    lineage columns and sidecar metadata. All columns load as strings;
    numeric promotion is the engine's inference pass (P2)."""
    lines = filtered_lines_df(
        spark, files, line_filter, split_files_over_mb=split_files_over_mb
    )
    if line_filter:
        lines = scoped_cache(lines)

    # header decision per file: first surviving line
    firsts = {
        _norm_path(r["path"]): r["line"]
        for r in lines.filter(F.col("line_no") == 0).collect()
    }

    def header_of(first_line: str | None) -> tuple[list[str], bool]:
        """→ (column names, file_has_header_row)"""
        if first_line is None:
            return [], False
        if csv_header is not None:
            injected = [c.strip() for c in csv_header.split(",")]
            has = first_line.rstrip("\n").replace(" ", "") == csv_header.replace(" ", "")
            return (injected, has)
        return [c.strip() for c in first_line.split(",")], True

    # group files by their effective column list
    groups: dict[tuple, dict] = {}
    for path in files:
        cols, has_hdr = header_of(firsts.get(os.path.abspath(path), firsts.get(path)))
        if not cols:
            continue  # empty / fully-filtered file (S5) — tolerated with no rows
        key = tuple(cols)
        g = groups.setdefault(key, {"has_header": {}, "paths": []})
        g["paths"].append(path)
        g["has_header"][path] = has_hdr

    parsed: list[DataFrame] = []
    for cols, g in groups.items():
        schema = ", ".join(f"`{c}` string" for c in cols)
        sub = lines.filter(
            F.regexp_replace("path", "^file:/*", "/").isin(
                [os.path.abspath(p) for p in g["paths"]]
            )
        )
        hdr_paths = [os.path.abspath(p) for p, h in g["has_header"].items() if h]
        if hdr_paths:
            sub = sub.filter(
                ~(
                    (F.col("line_no") == 0)
                    & F.regexp_replace("path", "^file:/*", "/").isin(hdr_paths)
                )
            )
        df = sub.select(
            F.regexp_replace("path", "^file:/*", "/").alias("Path"),
            F.from_csv(
                "line", schema, {"ignoreLeadingWhiteSpace": "true", "mode": "PERMISSIVE"}
            ).alias("r"),
        ).select("Path", "r.*")
        parsed.append(df)

    if not parsed:
        return local_frame(spark, [], StructType([StructField("Path", StringType())]))

    out = parsed[0]
    for df in parsed[1:]:
        out = out.unionByName(df, allowMissingColumns=True)

    out = out.withColumn("File", F.element_at(F.split("Path", "/"), -1)).withColumn(
        "Directory",
        F.when(
            F.length(F.expr("substring(Path, 1, length(Path) - length(File) - 1)")) > 0,
            F.expr("substring(Path, 1, length(Path) - length(File) - 1)"),
        ).otherwise("."),
    )
    return attach_sidecar_meta(spark, out, files)


def attach_sidecar_meta(
    spark: SparkSession, df: DataFrame, files: list[str]
) -> DataFrame:
    """S7: per-file `.meta` YAML sidecars become constant columns via a
    broadcast join on Path (reference assigns them per file,
    aggregate.py:263-270)."""
    import yaml as _yaml

    metas: dict[str, dict] = {}
    keys: list[str] = []
    for f in files:
        mf = f + ".meta"
        if os.path.isfile(mf):
            try:
                with open(mf) as fd:
                    m = _yaml.safe_load(fd) or {}
            except Exception:
                continue
            metas[os.path.abspath(f)] = m
            for k in m:
                if k not in keys:
                    keys.append(k)
    if not metas:
        return df
    rows = [
        tuple([p] + [None if k not in m else str(m[k]) for k in keys])
        for p, m in metas.items()
    ]
    meta_df = local_frame(
        spark, rows, StructType([StructField(k, StringType()) for k in ["Path", *keys]])
    )
    # reference `df.assign(**meta)` OVERWRITES same-named data columns —
    # drop the data-side column so the sidecar value wins
    overlap = [k for k in keys if k in df.columns]
    return df.drop(*overlap).join(F.broadcast(meta_df), "Path", "left")


def _sqlite_jdbc_available(spark: SparkSession) -> bool:
    """True when a sqlite JDBC driver is on the executor classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.sqlite.JDBC")  # noqa: SLF001
        return True
    except Exception:
        return False


def scan_sqlite(spark: SparkSession, files: list[str], table: str | None) -> DataFrame:
    """S8: sqlite scan (cite aggregate.py:295-314).

    Preferred path is `spark.read.format("jdbc")` per file — the scan
    then runs executor-side and Catalyst pushes filters/pruning into the
    JDBC source. A .db file is single-machine data by construction, so
    each file is a single JDBC partition; parallelism comes from the
    many-files union, matching the runner layout. When no sqlite JDBC
    driver jar is on the classpath (this container ships none), falls
    back to a driver-side sqlite3/pandas read, then parallelizes."""
    if not table:
        raise RecipeError("input.table-name required for sql format")
    # recipe YAML is data, not code: never interpolate an arbitrary
    # string into SQL (the reference shares this flaw; harden here)
    if not re.fullmatch(r"[A-Za-z0-9_]+", table):
        raise RecipeError(f"invalid sqlite table name {table!r}")

    if _sqlite_jdbc_available(spark):
        frames = []
        for fn in files:
            jdf = (
                spark.read.format("jdbc")
                .option("url", f"jdbc:sqlite:{fn}")
                .option("driver", "org.sqlite.JDBC")
                .option("dbtable", table)
                .load()
            )
            frames.append(
                jdf.withColumns(
                    {
                        "Path": F.lit(fn),
                        "File": F.lit(os.path.basename(fn)),
                        "Directory": F.lit(os.path.dirname(fn) or "."),
                    }
                )
            )
        out = frames[0]
        for jdf in frames[1:]:
            out = out.unionByName(jdf, allowMissingColumns=True)
        return out

    import sqlite3

    frames = []
    for fn in files:
        db = sqlite3.connect(fn)
        try:
            pdf = pd.read_sql_query(f"SELECT * FROM {table}", db)  # noqa: S608
        finally:
            db.close()
        pdf["Path"] = fn
        pdf["File"] = os.path.basename(fn)
        pdf["Directory"] = os.path.dirname(fn) or "."
        frames.append(pdf)
    out = pd.concat(frames, ignore_index=True)
    return local_frame(spark, out)


def _with_lineage(df: DataFrame) -> DataFrame:
    """Attach Path/File/Directory (S6) from the `_metadata.file_path`
    hidden column. CRITICAL scale detail: `input_file_name()` is
    non-deterministic, and Catalyst refuses to push predicates past a
    Project containing a non-deterministic expression — lineage via
    input_file_name silently disabled filter pushdown for every
    downstream recipe filter. `_metadata` is a real scan attribute
    (deterministic), so PushedFilters still reach the file source
    (asserted in tests/test_plans.py)."""
    return (
        df.withColumn(
            "Path", F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/")
        )
        .withColumn("File", F.element_at(F.split("Path", "/"), -1))
        .withColumn(
            "Directory",
            F.expr("substring(Path, 1, length(Path) - length(File) - 1)"),
        )
    )


def scan_parquet(spark: SparkSession, files: list[str]) -> DataFrame:
    """Engine extension: parquet input for recipes (the 100 TB path —
    columnar scan with pushdown; lineage via _metadata.file_path)."""
    return _with_lineage(spark.read.parquet(*files))


def scan_orc(spark: SparkSession, files: list[str]) -> DataFrame:
    """Engine extension: ORC input — the other columnar format with
    native JVM readers (predicate pushdown + column pruning like
    parquet; common in Hive-era lakes). Same lineage columns."""
    return _with_lineage(spark.read.orc(*files))


def scan_json(spark: SparkSession, files: list[str]) -> DataFrame:
    """Engine extension: JSON-lines input (runner logs increasingly land
    as JSONL; schema inferred on first read — supply parquet for the
    100 TB path where inference cost matters)."""
    return _with_lineage(spark.read.json(files))


def scan(spark: SparkSession, recipe: Recipe, inputs: list[str] | None = None) -> DataFrame | None:
    """S1/S2: resolve recipe input globs (or CLI overrides) and read.
    Returns None when the recipe has no path input (children-only)."""
    patterns = inputs if inputs is not None else recipe.input_paths
    if not patterns:
        return None
    files = expand_globs(patterns)
    if not files:
        raise RecipeError(f"No matching files found for {patterns}")
    fmt = recipe.input_format
    if fmt == "csv":
        return scan_csv(
            spark,
            files,
            recipe.csv_header,
            recipe.line_filter,
            split_files_over_mb=recipe.split_files_over_mb,
        )
    if fmt == "sql":
        return scan_sqlite(spark, files, recipe.table_name)
    if fmt == "parquet":
        return scan_parquet(spark, files)
    if fmt == "json":
        return scan_json(spark, files)
    if fmt == "orc":
        return scan_orc(spark, files)
    raise RecipeError(f"Unsupported input format {fmt!r}")
