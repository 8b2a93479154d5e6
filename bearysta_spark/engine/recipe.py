"""Recipe model: the YAML surface of the reference aggregator.

Keys and defaults mirror bearysta/aggregate.py:55-131 (defaults for
series/axis/variants installed at :102-108; missing keys read as None
via __getitem__ at :123-131). `aggregation` and `values` are required
by the pipeline (hard errors at :567-583).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import Any

try:
    import yaml

    def _load_yaml(text: str):
        return yaml.safe_load(text)

except ImportError:  # pragma: no cover
    from ruamel.yaml import YAML

    def _load_yaml(text: str):
        return YAML(typ="safe").load(text)


class RecipeError(ValueError):
    """Mirrors the reference's BenchmarkError semantics."""


@dataclass
class Recipe:
    config: dict[str, Any]
    path: str | None = None

    @classmethod
    def load(cls, path: str) -> "Recipe":
        try:
            with open(path) as f:
                cfg = _load_yaml(f.read())
        except OSError as e:
            raise RecipeError(f"Could not open configuration at {path}") from e
        if not isinstance(cfg, dict):
            raise RecipeError(f"Configuration at {path} is not a mapping")
        return cls(cfg, path=path)

    def __getitem__(self, name: str):
        return self.config.get(name)

    @property
    def input(self) -> dict:
        return self.config.get("input") or {}

    @property
    def input_paths(self) -> list[str]:
        p = self.input.get("path")
        if p is None:
            return []
        return [p] if isinstance(p, str) else list(p)

    @property
    def child_configs(self) -> list[str]:
        c = self.input.get("config")
        if c is None:
            return []
        c = [c] if isinstance(c, str) else list(c)
        base = os.path.dirname(self.path) if self.path else "."
        return [p if p.startswith("/") else os.path.join(base, p) for p in c]

    @property
    def input_format(self) -> str:
        return self.input.get("format", "csv")

    @property
    def csv_header(self) -> str | None:
        return self.input.get("csv-header")

    @property
    def line_filter(self) -> dict[str, str | None] | None:
        return self.input.get("filter")

    @property
    def table_name(self) -> str | None:
        return self.input.get("table-name")

    @property
    def split_files_over_mb(self) -> float | None:
        """Engine extension (not in the reference's config surface):
        split input files larger than this into byte ranges of this size
        so one multi-GB log parallelizes across executors."""
        v = self.input.get("split-files-over-mb")
        if v is None:
            return None
        try:
            mb = float(v)
        except (TypeError, ValueError):
            mb = math.nan
        if isinstance(v, bool) or not math.isfinite(mb) or mb * 1024 * 1024 < 1:
            raise RecipeError(
                f"input.split-files-over-mb must be a number of MB of at least "
                f"one byte, got {v!r}"
            )
        return mb

    @property
    def rename(self) -> dict:
        return self.config.get("rename") or {}

    @property
    def filter_out(self) -> dict:
        return self.config.get("filter-out") or {}

    @property
    def filter_in(self) -> dict:
        return self.config.get("filter-in") or {}

    @property
    def precomputed(self) -> dict:
        return self.config.get("precomputed") or {}

    @property
    def pack(self) -> list[dict]:
        return self.config.get("pack") or []

    @property
    def unpack(self) -> list[dict]:
        return self.config.get("unpack") or []

    @property
    def values(self) -> list[str]:
        v = self.config.get("values")
        if not v:
            raise RecipeError("Recipe must declare `values:`")
        return [v] if isinstance(v, str) else list(v)

    @property
    def aggregation(self) -> str:
        a = self.config.get("aggregation")
        if not a:
            raise RecipeError("Recipe must declare `aggregation:`")
        return a

    @property
    def series(self) -> list[str]:
        return list(self.config.get("series") or [])

    @property
    def axis(self) -> list[str]:
        return list(self.config.get("axis") or [])

    @property
    def variants(self) -> list[str]:
        return list(self.config.get("variants") or [])

    @property
    def expected(self) -> list | None:
        return self.config.get("expected")

    @property
    def higher_is_better(self) -> bool:
        return bool(self.config.get("higher-is-better", False))

    @property
    def number_format(self):
        return self.config.get("number-format")

    def write(self, path: str) -> None:
        """Plan serialization (reference write_config, aggregate.py:114-120)."""
        import json

        with open(path, "w") as f:
            if path.endswith(".json"):
                json.dump(self.config, f, indent=2)
            else:
                yaml.safe_dump(self.config, f)
