"""CLI entry point: `python -m bearysta_spark.cli recipe.yml [...]`.

Mirrors the reference aggregator CLI surface (aggregate.py main,
:968-1063): multiple recipe configs, `-i` input overrides, CSV /
pretty-print / HTML sinks.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="bearysta_spark recipe aggregator")
    p.add_argument("configs", nargs="+", help="recipe YAML paths")
    p.add_argument("-i", "--input", nargs="*", default=None, help="override input globs (S2)")
    p.add_argument("--csv", default=None, help="CSV output path ('-' = stdout)")
    p.add_argument("-P", "--pretty-print", action="store_true")
    p.add_argument("--html", default=None, help="HTML output path")
    p.add_argument("--excel", default=None,
                   help="Excel output path (K4 pandas engine; needs openpyxl)")
    p.add_argument("--raw", action="store_true",
                   help="include the normalized pre-aggregation 'raw' sheet in --excel")
    p.add_argument("--plot", action="store_true")
    p.add_argument("--allow-python", action="store_true",
                   help="enable pandas-eval fallback for non-compilable precomputes")
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from bearysta_spark import get_spark
    from bearysta_spark.cachescope import release_scoped_caches
    from bearysta_spark.engine import RecipeEngine
    from bearysta_spark import sinks

    spark = get_spark("bearysta_spark_cli", cpus=args.cpus)
    spark.sparkContext.setLogLevel("WARN")
    try:
        for cfg in args.configs:
            eng = RecipeEngine(spark, cfg, inputs=args.input, allow_python=args.allow_python)
            agg = eng.aggregated()
            if args.csv:
                out = sinks.to_csv(agg, args.csv)
                if out:
                    sys.stdout.write(out)
            if args.pretty_print:
                for variant, table in eng.pivot_tables(agg):
                    title = ", ".join(map(str, variant)) if variant else ""
                    sys.stdout.write(sinks.pivot_string(
                        table, eng.recipe.number_format,
                        bool(eng.recipe["number-format-max-only"]), title))
            if args.html:
                sinks.to_html(
                    list(eng.pivot_tables(agg)),
                    path=args.html,
                    indicator=eng.recipe["indicator"],
                    plot=args.plot,
                )
            if args.excel:
                # reference workbook shape (aggregate.py:829-833): the
                # aggregated frame goes on `data` unconditionally; --raw adds
                # the normalized pre-aggregation frame on a separate `raw`
                sinks.to_excel(
                    list(eng.pivot_tables(agg)),
                    path=args.excel,
                    data_df=agg,
                    raw_df=eng.normalized() if args.raw else None,
                    variant_cols=eng.recipe.variants,
                    indicator=eng.recipe["indicator"],
                )
            if not (args.csv or args.pretty_print or args.html or args.excel):
                sys.stdout.write(sinks.to_csv(agg, "-") or "")
    finally:
        # the engine's scan and union caches outlive each recipe run; an
        # in-process caller's session must not keep them pinned
        release_scoped_caches()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
