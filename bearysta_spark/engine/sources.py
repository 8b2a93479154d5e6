"""Recipe scan sources (SURVEY §2.1 S1-S11).

Spark-first shape of the reference's per-file reader (aggregate.py:134-314):

1. Glob expansion happens on the driver (S1) — file *lists* are metadata,
   not data; at 100 TB the list comes from the object-store listing the
   same way.
2. The line-level regex preprocessor (S3) is inherently sequential per
   file (`append` folds a line into the previous line, chains allowed),
   so one byte-range reader (`lines_df`) runs it as an Arrow-batched
   mapInPandas over driver-planned chunk specs, sequential within a
   chunk. Its tasks are sized by input bytes (`_PYTHON_TASK_BYTES` a
   task, up to one per core), since each Python task has a fixed cost:
   a tree of small runner logs reads in one task. A file is one
   whole-file chunk unless the recipe sets `split-files-over-mb`; then
   a multi-GB log splits at line boundaries and each chunk replays a
   few lines of context.
3. Executors open the driver's literal (absolute) paths, so a name with
   a space, `%`, `#`, `[` or `{` reads as itself. CSV parsing of
   surviving lines is distributed (`from_csv` per line group), with
   header sniffing per file (S4: injected header used only when the
   file's first surviving line differs from it).
4. Lineage columns Path/File/Directory (S6) come from those same paths;
   `.meta` sidecar constants (S7) are driver-loaded (tiny YAML) onto
   each file's rows of the chunk-spec frame, and the reader copies
   them onto every line it yields. No join, so no action pays a
   broadcast job for them.
5. SQLite (S8) reads driver-side via the stdlib sqlite3 module — a
   sqlite file is single-machine by construction; at scale this input
   becomes JDBC/parquet.
"""

from __future__ import annotations

import glob as globmod
import os
import re
from collections.abc import Iterator
from functools import reduce
from operator import or_

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from bearysta_spark.cachescope import scoped_cache
from bearysta_spark.colnames import qcol
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
# Bytes of log one Python task of the reader takes on. A task of a
# Python node costs about 0.5 s of fixed CPU (worker set-up plus the JVM
# side; SCALING.md, execution substrate), and one warm task reads and
# filters about 9.6 MB/s on the benchmark recipe's six patterns (23.1 MB
# in 2.40 s, 4-core host). At 32 MiB a task's fixed cost stays under
# about 15% of its work, and a tree of small runner logs reads in one
# task instead of one per core.
_PYTHON_TASK_BYTES = 32 << 20
_LINES = StructType(
    [
        StructField("path", StringType()),
        StructField("chunk_id", IntegerType()),
        StructField("local_idx", LongType()),
        StructField("line", StringType()),
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


def _read_chunk(
    path: str, off: int, length: int, overlap_lines: int = 8, back_bytes: int = 1 << 20
) -> tuple[list[str], list[str]]:
    """Read one byte-range of a text file at line granularity, Hadoop
    LineRecordReader convention: a chunk at off>0 discards the first
    (possibly partial) line — its predecessor reads one line past its
    end — so every line is owned by exactly one chunk. Lines split on
    '\\n' only, trailing '\\r's stripped. Returns (context_lines,
    owned_lines): context is up to `overlap_lines` complete lines
    immediately before the owned region, replayed through the filter
    for `append`/prev-line state."""
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


def lines_df(
    spark: SparkSession,
    files: list[str],
    filters: dict[str, str | None] | None,
    chunk_mb: float | None = None,
    constants: dict[str, list[str | None]] | None = None,
) -> DataFrame:
    """(path, chunk_id, local_idx, line, *constants) after the line
    filter; a file's lines are in (chunk_id, local_idx) order.

    The driver plans byte-range chunk specs from file sizes: one chunk
    per file, or ~chunk_mb ranges when set, so one multi-GB log does not
    pin a single task. The specs are coalesced to one Python task per
    `_PYTHON_TASK_BYTES` of chunk bytes (at least one, at most the
    scan's one per core), so small inputs pay one task's fixed cost,
    not one per core. Executors open the driver's literal paths
    (_read_chunk) and replay `overlap_lines` (8) of context before each
    chunk so prev-line state (`append` gluing) is reconstructed: a chain
    of consecutive `append` lines longer than that would be mis-glued
    (shipped recipes wrap at most one line).

    `constants` maps extra string column names (other than the four
    above) to one value per file, aligned with `files`. A file's values
    ride its chunk specs and are repeated on every line it yields."""
    constants = constants or {}
    chunk = int(chunk_mb * 1024 * 1024) if chunk_mb is not None else None
    specs = []
    for j, fn in enumerate(files):
        values = tuple(v[j] for v in constants.values())
        size = os.path.getsize(fn)
        step = chunk or max(size, 1)
        for i in range(max(1, -(-size // step))):
            specs.append((fn, i, i * step, min(step, size - i * step), *values))
    extra = [StructField(n, StringType()) for n in constants]
    indexed = _line_filter_fn_indexed(filters or {})

    def proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, cid, off, length, *values in pdf.itertuples(index=False, name=None):
                ctx, owned = _read_chunk(path, int(off), int(length))
                outs = (
                    [line for idx, line in indexed(ctx + owned) if idx >= len(ctx)]
                    if filters
                    else owned
                )
                rows.extend(
                    (path, int(cid), i, line, *values) for i, line in enumerate(outs)
                )
            yield pd.DataFrame(rows, columns=_LINES.fieldNames() + list(constants))

    spec = local_frame(spark, specs, StructType(_CHUNK_SPEC.fields + extra))
    # narrow, so no job; it never raises the count above the scan's
    # min(specs, defaultParallelism) slices
    tasks = max(1, -(-sum(length for _, _, _, length, *_ in specs) // _PYTHON_TASK_BYTES))
    return spec.coalesce(tasks).mapInPandas(proc, schema=StructType(_LINES.fields + extra))


def load_sidecars(files: list[str]) -> tuple[list[str], dict[str, list[str | None]]]:
    """S7: the `.meta` YAML sidecars of `files` (reference
    aggregate.py:263-270) as (keys in first-seen order, key -> one
    value per file). A value is `str(v)`; a file with no sidecar, an
    unreadable one, or one without the key gets None."""
    import yaml as _yaml

    metas: list[dict] = []
    keys: list[str] = []
    for f in files:
        m: dict = {}
        if os.path.isfile(f + ".meta"):
            try:
                with open(f + ".meta") as fd:
                    m = _yaml.safe_load(fd) or {}
            except (OSError, ValueError, _yaml.YAMLError):
                pass  # unreadable or undecodable: as if absent
        metas.append(m)
        keys += [k for k in m if k not in keys]
    return keys, {k: [None if k not in m else str(m[k]) for m in metas] for k in keys}


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
    # one spelling for the reader's paths, Path, the sidecar lookup and
    # the header lookup
    files = [os.path.abspath(f) for f in files]
    keys, values = load_sidecars(files)
    # the reader carries sidecar values under positional names, so a key
    # named like one of its own columns (`line`, `path`) cannot clash
    carried = [f"meta{i}" for i in range(len(keys))]
    lines = lines_df(
        spark,
        files,
        line_filter,
        chunk_mb=split_files_over_mb,
        constants=dict(zip(carried, values.values())),
    )
    if line_filter:
        lines = scoped_cache(lines)

    # header decision per file: first surviving line, i.e. line 0 of the
    # file's lowest chunk with any output
    firsts: dict[str, tuple[int, str]] = {}
    heads = lines.filter(F.col("local_idx") == 0).select("path", "chunk_id", "line")
    for r in heads.collect():
        first = (r["chunk_id"], r["line"])
        firsts[r["path"]] = min(firsts.get(r["path"], first), first)

    def header_of(first_line: str | None) -> tuple[list[str], bool]:
        """→ (column names, file_has_header_row)"""
        if first_line is None:
            return [], False
        if csv_header is not None:
            injected = [c.strip() for c in csv_header.split(",")]
            has = first_line.rstrip("\n").replace(" ", "") == csv_header.replace(" ", "")
            return (injected, has)
        return [c.strip() for c in first_line.split(",")], True

    # group files by their effective column list; header rows are keyed
    # by the chunk that holds them
    groups: dict[tuple, dict] = {}
    for path in files:
        cid, first_line = firsts.get(path, (None, None))
        cols, has_hdr = header_of(first_line)
        if not cols:
            continue  # empty / fully-filtered file (S5) — tolerated with no rows
        g = groups.setdefault(tuple(cols), {"paths": [], "header_at": {}})
        g["paths"].append(path)
        if has_hdr:
            g["header_at"].setdefault(cid, []).append(path)

    if not groups:
        return local_frame(spark, [], StructType([StructField("Path", StringType())]))

    # past the CSV parse the sidecar values share the frame with the data
    # columns: rename them to a prefix no column name starts with
    taken = {c for cols in groups for c in cols} | {"Path", "File", "Directory"}
    tag = "_sidecar"
    while any(c.startswith(tag) for c in taken):
        tag = "_" + tag
    internal = [f"{tag}{i}" for i in range(len(keys))]

    parsed: list[DataFrame] = []
    for cols, g in groups.items():
        schema = ", ".join(f"`{c}` string" for c in cols)
        sub = lines.filter(F.col("path").isin(g["paths"]))
        if g["header_at"]:
            is_header = reduce(
                or_,
                [
                    (F.col("chunk_id") == cid) & F.col("path").isin(paths)
                    for cid, paths in g["header_at"].items()
                ],
            )
            sub = sub.filter(~((F.col("local_idx") == 0) & is_header))
        df = sub.select(
            F.col("path").alias("Path"),
            F.from_csv(
                "line", schema, {"ignoreLeadingWhiteSpace": "true", "mode": "PERMISSIVE"}
            ).alias("r"),
            *[F.col(c).alias(n) for c, n in zip(carried, internal)],
        ).select("Path", "r.*", *internal)
        parsed.append(df)

    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parsed)
    out = out.withColumn("File", F.element_at(F.split("Path", "/"), -1))
    directory = F.expr("substring(Path, 1, length(Path) - length(File) - 1)")
    out = out.withColumn("Directory", F.when(directory != "", directory).otherwise("."))
    # a sidecar key overwrites a same-named data column (the reference's
    # `df.assign(**meta)`), and the keys come last in first-seen order
    data = [c for c in out.columns if c not in keys and c not in internal]
    return out.select(
        *[qcol(c) for c in data], *[qcol(i).alias(k) for i, k in zip(internal, keys)]
    )


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
    hidden column: a real (deterministic) scan attribute, so Catalyst
    still pushes downstream recipe filters into the file source
    (asserted in tests/test_plans.py). The column is a URI: Path is its
    decoded path, so a space, `%` or `#` reads as itself. `url_decode`
    also reads `+` as a space, so a literal `+` is escaped first."""
    uri = F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/")
    return (
        df.withColumn("Path", F.url_decode(F.regexp_replace(uri, "\\+", "%2B")))
        .withColumn("File", F.element_at(F.split("Path", "/"), -1))
        .withColumn(
            "Directory",
            F.expr("substring(Path, 1, length(Path) - length(File) - 1)"),
        )
    )


def _literal(files: list[str]) -> list[str]:
    """`files` escaped for `spark.read`, which globs every path it is
    given: a name holding a Hadoop glob character (`\\ * ? [ ] { }`)
    then matches only itself."""
    return [re.sub(r"([\\*?\[\]{}])", r"\\\1", f) for f in files]


def scan_parquet(spark: SparkSession, files: list[str]) -> DataFrame:
    """Engine extension: parquet input for recipes (the 100 TB path —
    columnar scan with pushdown; lineage via _metadata.file_path)."""
    return _with_lineage(spark.read.parquet(*_literal(files)))


def scan_orc(spark: SparkSession, files: list[str]) -> DataFrame:
    """Engine extension: ORC input — the other columnar format with
    native JVM readers (predicate pushdown + column pruning like
    parquet; common in Hive-era lakes). Same lineage columns."""
    return _with_lineage(spark.read.orc(_literal(files)))


def scan_json(spark: SparkSession, files: list[str]) -> DataFrame:
    """Engine extension: JSON-lines input (runner logs increasingly land
    as JSONL; schema inferred on first read — supply parquet for the
    100 TB path where inference cost matters)."""
    return _with_lineage(spark.read.json(_literal(files)))


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
