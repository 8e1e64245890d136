"""CLI entry point: ``python -m chinook_music_database_analysis_spark``.

Commands:
    list                         all registered query names
    run <query> [--sf-dir DIR]   execute a query, print rows (capped)
    explain <query> [--sf-dir DIR] [--mode MODE]   show the plan
    oracle <query>               print the query's DuckDB oracle SQL
    validate <query> [--sf-dir DIR]   Spark vs DuckDB oracle compare
    profile <query>... [--sf-dir DIR] [--reps N]
                                 one JSON line per run: build/plan/write
                                 seconds, rows, executed plan and its
                                 operator counts (Engine.profile)

The same surface a spark-submit job would use on a cluster — the CLI
only builds the session and delegates to the Engine facade.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="chinook_music_database_analysis_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    for cmd in ("run", "explain", "oracle", "validate", "profile"):
        p = sub.add_parser(cmd)
        p.add_argument("query", nargs="+" if cmd == "profile" else None)
        if cmd in ("run", "explain", "validate", "profile"):
            p.add_argument("--sf-dir", default=None)
        if cmd == "run":
            p.add_argument("--limit", type=int, default=20)
        if cmd == "explain":
            p.add_argument("--mode", default="formatted")
        if cmd == "profile":
            p.add_argument("--reps", type=int, default=1)

    args = ap.parse_args(argv)

    from .plans import ORACLES, QUERIES

    if args.cmd == "list":
        for name in sorted(QUERIES):
            marker = "" if name in ORACLES else "  (rows-only)"
            print(f"{name}{marker}")
        return 0

    names = args.query if args.cmd == "profile" else [args.query]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown query: {unknown[0]!r} (see `list`)", file=sys.stderr)
        return 2

    if args.cmd == "oracle":
        sql = ORACLES.get(args.query)
        if sql is None:
            print(f"{args.query} has no SQL oracle (rows-only op)", file=sys.stderr)
            return 1
        print(sql.strip())
        return 0

    from .engine import Engine
    from .sources.session import DEFAULT_SF_DIR

    eng = Engine(sf_dir=args.sf_dir or DEFAULT_SF_DIR)
    eng.spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "explain":
        print(eng.explain(args.query, mode=args.mode))
    elif args.cmd == "validate":
        import json

        res = eng.validate(args.query)
        print(json.dumps(res, default=str))
        ok = res.get("oracle", True) is None or (
            res.get("rows_match") and res.get("schema_match") and res.get("values_match")
        )
        return 0 if ok else 1
    elif args.cmd == "profile":
        import json

        for name in names:
            for _ in range(args.reps):
                res = eng.profile(name)
                res["plan"] = res["plan"][:2000]
                print(json.dumps(res, default=str))
    else:
        eng.query(args.query).show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
