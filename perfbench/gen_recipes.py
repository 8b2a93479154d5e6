"""Seeded generator for the `recipes` workload's input tree.

It writes benchmark-runner output in the layout recipes glob
(`runs/<run>/<suite>/<arch>_<env>/<ts>_<cmd>.out`), each file with its
`.meta` YAML sidecar, and the recipe that reads them. The files are
multi-line server logs: query records among noise lines (`@ ...`,
`WARNING: ...`, heartbeats, slow-query warnings, blanks), one record in
eight wrapped over two physical lines. Most files are small; a few
bulk files are larger than the recipe's `split-files-over-mb`, so the
chunked reader splits them.

`server.yml` drops the noise with `drop` filters, re-joins wrapped
records with the `append` filter, turns each record into a CSV row
with regex capture groups under a recipe-injected `csv-header`, joins
each file's sidecar (its `env_name` is an axis), packs
`exec_ms`/`total_ms` into `Function`/`Time`, aggregates by `geomean`
and pivots by host.

Every record written is also kept, and `RecipeCase.expected` aggregates
them in pandas without touching the engine: that is the workload's
output check. The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import yaml

ARCHS = ["skx", "spr"]
ENVS = ["intel", "stock"]
HOSTS = ["db0", "db1", "db2", "db3"]
_QUERY_RE = r'^\S+ \S+ stdlog (\w+) (\S+) ([0-9]+) .*,"(\d+)","(\d+)"\}$'
#: files above this size go through the chunked reader
SPLIT_MB = 0.25


@dataclass
class RecipeCase:
    """The recipe the workload runs, and what its output must hold."""

    name: str
    path: str
    dims: list[str]
    values: list[str]
    records: pd.DataFrame  # the rows the recipe aggregates

    def expected(self) -> pd.DataFrame:
        """The `geomean`-aggregated table: one row per dims combination."""
        logs = np.log(self.records[self.values])
        return np.exp(logs.groupby([self.records[d] for d in self.dims], sort=True).mean()).reset_index()


@dataclass
class RecipeSet:
    cases: list[RecipeCase] = field(default_factory=list)
    files: int = 0
    lines: int = 0
    bytes: int = 0
    paths: list[str] = field(default_factory=list)

    def write(self, path: str, text: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", newline="\n") as f:
            f.write(text)
        self.paths.append(path)

    def write_data(self, path: str, lines: list[str]) -> None:
        text = "\n".join(lines) + "\n"
        self.write(path, text)
        self.files += 1
        self.lines += len(lines)
        self.bytes += len(text.encode())


def _noise(rng: np.random.Generator, ts: str) -> str | None:
    r = rng.random()
    if r < 0.15:
        return f"I {ts} heartbeat load={int(rng.integers(0, 100))}"
    if r < 0.20:
        return f"W {ts} slow query warning threshold={int(rng.integers(100, 900))}ms"
    if r < 0.22:
        return "@ Package 'daal4py' was not found, falling back to stock"
    if r < 0.24:
        return f"WARNING: Number of actual iterations ({int(rng.integers(5, 500))}) reached the maximum"
    if r < 0.26:
        return ""
    return None


def _log(rng: np.random.Generator, records: int, env: str) -> tuple[list[str], list[tuple]]:
    """One server log of `records` query records. Returns its lines and
    the packed (host, env_name, Function, Time) rows."""
    lines, rows = [f"Using backend server-{env}"], []
    for i in range(records):
        ts = f"2024-01-{1 + i * 28 // records:02d}T{i % 86400:06d}"
        host = HOSTS[int(rng.integers(0, len(HOSTS)))]
        qid = int(rng.integers(0, 50))
        ex = int(rng.integers(1, 5000))
        tot = ex + int(rng.integers(0, 500))
        head = f"I {ts} stdlog sql_execute {host} {qid} SELECT col{qid % 7} FROM t{qid % 5}"
        tail = f',"{ex}","{tot}"}}'
        if rng.random() < 0.125:
            lines += [head, "+ " + tail]
        else:
            lines.append(head + " " + tail)
        rows += [(host, env, "exec_ms", float(ex)), (host, env, "total_ms", float(tot))]
        noise = _noise(rng, ts)
        if noise is not None:
            lines.append(noise)
    return lines, rows


def write_recipe_inputs(
    root: str, seed: int, runs: int = 3, records: int = 150, bulk_files: int = 2, bulk_records: int = 4_000
) -> RecipeSet:
    """Write the whole tree under `root`: runs × archs × envs small logs
    of `records` records, plus `bulk_files` logs of `bulk_records`."""
    rng = np.random.default_rng(seed)
    out = RecipeSet()
    rows = []
    leaves = [(f"run{r:03d}", a, e) for r in range(runs) for a in ARCHS for e in ENVS]
    leaves += [(f"bulk{k:03d}", ARCHS[k % len(ARCHS)], ENVS[k % len(ENVS)]) for k in range(bulk_files)]
    for i, (run, arch, env) in enumerate(leaves):
        n = bulk_records if run.startswith("bulk") else records
        ts = f"2024{1 + i % 9:02d}{10 + int(rng.integers(0, 18))}T{int(rng.integers(0, 240000)):06d}"
        path = os.path.join(root, "runs", run, "server", f"{arch}_{env}", f"{ts}_server.out")
        lines, file_rows = _log(rng, n, env)
        out.write_data(path, lines)
        rows += file_rows
        meta = {"env_name": env, "hostname": f"{arch}-node{int(rng.integers(0, 4))}"}
        out.write(path + ".meta", yaml.safe_dump(meta, sort_keys=True))

    recipe = {
        "input": {
            "path": os.path.join(root, "runs", "*", "server", "*", "*.out"),
            "format": "csv",
            "csv-header": "op,host,queryID,exec_ms,total_ms",
            "filter": {
                "^@": "drop",
                "^WARNING": "drop",
                "^Using": "drop",
                r"^\+": "append",
                _QUERY_RE: r"\1,\2,\3,\4,\5",
                "^(?!sql_)": "drop",
            },
            "split-files-over-mb": SPLIT_MB,
        },
        "pack": [{"columns": ["exec_ms", "total_ms"], "name": "Function", "value": "Time"}],
        "aggregation": "geomean",
        "series": ["host"],
        "axis": ["env_name", "Function"],
        "values": ["Time"],
    }
    path = os.path.join(root, "recipes", "server.yml")
    out.write(path, yaml.safe_dump(recipe, sort_keys=False))
    records_df = pd.DataFrame(rows, columns=["host", "env_name", "Function", "Time"])
    out.cases = [RecipeCase("server", path, ["host", "env_name", "Function"], ["Time"], records_df)]
    return out
