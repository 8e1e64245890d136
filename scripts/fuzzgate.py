"""Adversarial-corpus parity gate ("fuzz gate").

The driver's correctness gate and the suite's oracle-parity gate both
run on the ONE driver corpus, so any Spark/oracle agreement that is a
property of that corpus rather than of the operators goes unobserved.
The r10-r12 review passes found several of exactly this class by hand:
heavy-keys NULL grouping keys, the adapter's NULL-country equi-join,
the postings log dropping null-text docs, ev_json_extract's regex
oracle coinciding on flat JSON.  This script hunts the class
systematically: it writes seeded adversarial mutations of the sf0.001
corpus and runs the FULL registry Spark-vs-DuckDB compare (the exact
driver mirror from chinook_music_database_analysis_spark.testing) on
each variant:

- ``nulls``  — NULL injection into every nullable measure/dim/FK
  column (grouping keys, join keys, dates, text) at 1.5-4%.
- ``ties``   — exact-tie flooding: money snapped to integer grids,
  duplicated texts/embeddings/(ts,user) pairs, so every rank/top-k/
  tie-break path faces real ties.
- ``edge``   — surgical extremes: empty/whitespace/unicode/huge text,
  zero-norm and huge-magnitude embeddings, same-instant event bursts,
  nested/empty/malformed JSON props, epoch/far-future dates, 100%
  discounts, real control characters.
- ``skew``   — hot grouping/join keys: 30-50% of each fact table
  collapses onto one user / part / customer / brand+type / nation /
  source+lang / label.  Values are untouched, so exact oracle parity
  still gates the results — this variant verifies that giant groups,
  hot join sides, and single-partition-dominating windows stay
  VALUE-correct (the perf side of skew is scalecheck/AQE territory).
  Text content is deliberately not skewed beyond the ties variant's
  10% duplication: the containment family's hot-shingle guard refuses
  corpus shapes it documents as unsafe, and that refusal is its own
  tested contract.

Embedding vectors are never NULL-injected: a non-null fixed-dim vector
is the documented corpus contract (the generators enforce it), and the
similarity operators' oracles share it.

Two engine-class divergences are excluded from the corpus BY
CONTRACT, each verified empirically (r12) rather than assumed:

- U+000B (vertical tab) in text: Java regex whitespace (``[ \\t\\n
  \\x0B\\f\\r]``) includes VT, RE2's (``[\\t\\n\\f\\r ]``) does not, so
  every whitespace tokenizer (shingles, token counts, quality
  ratios) splits differently between Spark and DuckDB on VT.  That is a property of the regex engines, not of any
  operator; production guidance is to normalize VT at ingest.  All
  OTHER C0/C1 control characters (NUL, SOH, BEL, ESC, DEL, FS..US,
  form feed) round-trip and tokenize identically in both engines and
  ARE injected by the edge mutator.
- Single-quoted JSON (``{'k': 5}``) in props: Spark's
  ``get_json_object`` rides Jackson's single-quote leniency and
  extracts the value, DuckDB's ``json_valid`` rejects the document.
  Every OTHER malformed shape probed (truncated object/array, bare
  garbage, missing value, lone brace, leading-zero int, NaN literal)
  degrades to NULL identically under the ``json_valid``-guarded
  oracles and IS injected.

NULL event timestamps remain un-injected BY DESIGN: NULL event-time
rows are dropped by watermarked streaming operators but visible to
their batch twins, so stream-vs-batch equivalence over a NULL-ts
corpus is false by specification, not by defect.  The batch oracles'
NULL-ts semantics are already exercised through o_orderdate /
l_shipdate NULL injection; a streaming NULL-ts compare would need a
spec of its own (drop-rate accounting, not row parity) and is not an
operator-correctness signal.

Usage:
  python scripts/fuzzgate.py --variant nulls|ties|edge|all
                             [--only name1,name2] [--resume]
Corpora + per-query JSON land under .scratch/fuzz/ (gitignored).
Exit 1 on any mismatch or error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = os.environ.get("FUZZ_BASE_SF_DIR", "/root/testdata/sf0.001")
OUT_ROOT = os.path.join(REPO, ".scratch", "fuzz")

#: Gate exclusions with documented reasons — starts empty; a name goes
#: here ONLY when triage shows a documented precondition violation
#: (not a bug), and the reason must name the contract.
KNOWN_GAPS: dict[str, dict[str, str]] = {
    "nulls": {},
    "ties": {},
    "edge": {},
    "combo": {},
    "skew": {},
}


# ---------------------------------------------------------------------------
# Mutators.  Each takes (tables: dict[str, pd.DataFrame], rng) and
# mutates in place.  Seeds are fixed per variant so corpora are
# reproducible across runs and machines.
# ---------------------------------------------------------------------------

def _null_frac(df: pd.DataFrame, col: str, frac: float, rng) -> None:
    n = len(df)
    k = max(1, int(n * frac))
    idx = rng.choice(n, size=k, replace=False)
    df.loc[df.index[idx], col] = None


def _snap(df: pd.DataFrame, col: str, grid: int) -> None:
    # Integer grids only: grid multiples are exactly representable
    # doubles, so the snap cannot itself introduce float divergence.
    df[col] = (df[col] / grid).round() * float(grid)


def mutate_nulls(t: dict[str, pd.DataFrame], rng) -> None:
    _null_frac(t["customer"], "c_nationkey", 0.04, rng)   # join key
    _null_frac(t["customer"], "c_acctbal", 0.03, rng)
    _null_frac(t["customer"], "c_mktsegment", 0.03, rng)
    _null_frac(t["orders"], "o_custkey", 0.03, rng)        # FK
    _null_frac(t["orders"], "o_orderdate", 0.02, rng)
    _null_frac(t["orders"], "o_orderpriority", 0.02, rng)
    _null_frac(t["lineitem"], "l_shipdate", 0.015, rng)
    _null_frac(t["lineitem"], "l_discount", 0.015, rng)
    _null_frac(t["lineitem"], "l_returnflag", 0.01, rng)
    _null_frac(t["part"], "p_type", 0.03, rng)             # grouping key
    _null_frac(t["part"], "p_brand", 0.02, rng)
    _null_frac(t["supplier"], "s_acctbal", 0.2, rng)
    _null_frac(t["events"], "user_id", 0.04, rng)          # grouping key
    _null_frac(t["events"], "event_type", 0.03, rng)
    _null_frac(t["events"], "value", 0.03, rng)
    _null_frac(t["events"], "props", 0.03, rng)
    _null_frac(t["documents"], "text", 0.03, rng)
    _null_frac(t["documents"], "lang", 0.03, rng)
    _null_frac(t["documents"], "source", 0.03, rng)
    _null_frac(t["embeddings"], "label", 0.04, rng)


def _copy_rows(df: pd.DataFrame, cols: list[str], frac: float, rng) -> None:
    n = len(df)
    k = max(1, int(n * frac))
    dst = rng.choice(n, size=k, replace=False)
    src = rng.choice(n, size=k, replace=True)
    for c in cols:
        df.loc[df.index[dst], c] = df[c].to_numpy()[src]


def mutate_ties(t: dict[str, pd.DataFrame], rng) -> None:
    _snap(t["orders"], "o_totalprice", 250)
    _snap(t["lineitem"], "l_extendedprice", 100)
    _snap(t["customer"], "c_acctbal", 500)
    _snap(t["part"], "p_retailprice", 100)
    _snap(t["events"], "value", 25)
    _copy_rows(t["documents"], ["text", "n_chars"], 0.10, rng)
    _copy_rows(t["embeddings"], ["embedding"], 0.10, rng)
    _copy_rows(t["events"], ["ts", "user_id"], 0.05, rng)


_EDGE_TEXTS = [
    "",
    "   \t   ",
    "a",
    "word " * 2000,
    "naïve café 咖啡☕️ مرحبا "
    "עברית İstanbul ẞharp \U0001f680\U0001f680",
    "éé å combining",
    "line1\nline2\tend",
    # real C0 control chars + DEL: each one verified to round-trip
    # and tokenize identically in Spark and DuckDB; \x0B (VT) is
    # excluded by contract (Java regex \s includes VT, RE2's does
    # not -- module docstring)
    "ctl\x00nul \x01soh\x07bel mid \x1besc\x7fdel \x1c\x1d\x1e\x1f\x0c end",
    "spam " * 500,
    "1234567890 !!! ??? ...",
    "abcабвابc123",
    "the the the the",
]


def mutate_edge(t: dict[str, pd.DataFrame], rng) -> None:
    docs = t["documents"]
    idx = rng.choice(len(docs), size=len(_EDGE_TEXTS), replace=False)
    for i, txt in zip(idx, _EDGE_TEXTS):
        docs.loc[docs.index[i], "text"] = txt
        docs.loc[docs.index[i], "n_chars"] = len(txt)

    emb = t["embeddings"]
    dim = len(emb["embedding"].iloc[0])
    eidx = rng.choice(len(emb), size=8, replace=False)
    vecs = emb["embedding"].to_numpy()
    edits = {
        0: np.zeros(dim, dtype=np.float32),                      # zero norm
        1: np.zeros(dim, dtype=np.float32),                      # second zero (tie)
        2: np.full(dim, 1e3, dtype=np.float32),                  # huge magnitude
        3: (-np.asarray(vecs[eidx[4]], dtype=np.float32)),       # exact negation
        5: np.asarray(vecs[eidx[6]], dtype=np.float32).copy(),   # exact dup
        7: np.full(dim, 1e-8, dtype=np.float32),                 # tiny norm
    }
    for k, v in edits.items():
        emb.at[emb.index[eidx[k]], "embedding"] = v

    ev = t["events"]
    burst = rng.choice(len(ev), size=10, replace=False)
    ev.loc[ev.index[burst], "ts"] = ev["ts"].iloc[burst[0]]       # same instant
    ev.loc[ev.index[burst[:3]], "user_id"] = int(ev["user_id"].iloc[burst[0]])
    _props = [
        "{}",
        '{"k": 1, "j": 2}',
        '{"k": -5}',
        '{"k": {"x": 1}}',   # nested
        # malformed shapes — every one degrades to NULL k in BOTH
        # engines under the json_valid-guarded oracles (probed r12);
        # single-quoted JSON excluded by contract (module docstring)
        '{"k": 5',           # truncated object
        "not json at all",
        '{"k": }',           # missing value
        "[1, 2",             # truncated array
        "{",
        '{"k": 01}',         # leading zero — invalid per RFC, both strict
        '{"k": NaN}',        # DuckDB json_valid accepts, regex/cast -> NULL
    ]
    pidx = rng.choice(len(ev), size=len(_props), replace=False)
    for j, payload in enumerate(_props):
        ev.loc[ev.index[pidx[j]], "props"] = payload
    vidx = rng.choice(len(ev), size=3, replace=False)
    ev.loc[ev.index[vidx[0]], "value"] = 0.0
    ev.loc[ev.index[vidx[1]], "value"] = -50.0
    ev.loc[ev.index[vidx[2]], "value"] = 1e9

    orders = t["orders"]
    oidx = rng.choice(len(orders), size=3, replace=False)
    orders.loc[orders.index[oidx[0]], "o_totalprice"] = 0.0
    orders.loc[orders.index[oidx[1]], "o_orderdate"] = pd.Timestamp("1970-01-01")
    orders.loc[orders.index[oidx[2]], "o_orderdate"] = pd.Timestamp("2099-12-31")

    cust = t["customer"]
    cidx = rng.choice(len(cust), size=2, replace=False)
    cust.loc[cust.index[cidx[0]], "c_acctbal"] = -999999.99
    cust.loc[cust.index[cidx[1]], "c_name"] = "Kündé ☃"

    li = t["lineitem"]
    lidx = rng.choice(len(li), size=3, replace=False)
    li.loc[li.index[lidx[0]], "l_discount"] = 1.0
    li.loc[li.index[lidx[1]], "l_quantity"] = 0.0
    li.loc[li.index[lidx[2]], "l_tax"] = 0.0

    part = t["part"]
    part.loc[part.index[rng.integers(len(part))], "p_name"] = "pärt ☃"


def _collapse(df: pd.DataFrame, cols: list[str], frac: float, rng) -> None:
    """Point FRAC of the rows' key columns at row 0's values — one hot
    key per column set, the 100 TB key-distribution shape."""
    n = len(df)
    hot = rng.choice(n, size=int(n * frac), replace=False)
    for c in cols:
        df.loc[df.index[hot], c] = df[c].iloc[0]


def mutate_skew(t: dict[str, pd.DataFrame], rng) -> None:
    _collapse(t["events"], ["user_id"], 0.50, rng)
    _collapse(t["events"], ["event_type"], 0.30, rng)
    _collapse(t["lineitem"], ["l_partkey"], 0.40, rng)
    _collapse(t["orders"], ["o_custkey"], 0.30, rng)
    _collapse(t["part"], ["p_brand", "p_type"], 0.50, rng)
    _collapse(t["customer"], ["c_nationkey"], 0.40, rng)
    _collapse(t["documents"], ["source", "lang"], 0.40, rng)
    _collapse(t["embeddings"], ["label"], 0.40, rng)


def mutate_combo(t: dict[str, pd.DataFrame], rng) -> None:
    """All four mutators stacked (edge last so its surgical rows
    survive the tie-flood copies and the key collapses) — catches
    interactions a single variant can't, e.g. a NULL key colliding
    with an exact tie in the same window partition, or a hot key whose
    collapsed value IS NULL (skew's hot value is row 0's, which the
    nulls pass may have nulled — both engines read the same parquet,
    so parity still gates the hot-NULL-group case)."""
    mutate_nulls(t, rng)
    mutate_ties(t, rng)
    mutate_skew(t, rng)
    mutate_edge(t, rng)


VARIANTS = {
    "nulls": (mutate_nulls, 1201),
    "ties": (mutate_ties, 1202),
    "edge": (mutate_edge, 1203),
    "combo": (mutate_combo, 1204),
    "skew": (mutate_skew, 1205),
}

#: Bump when ANY mutator changes: the on-disk corpora are cached
#: behind a .complete marker, and a marker written by an older
#: mutator would otherwise silently serve a stale corpus to the gate
#: (r12: the control-char and malformed-JSON additions would have
#: been invisible to every cached run).  v3: skew stacked into combo.
CORPUS_VERSION = 3


# ---------------------------------------------------------------------------
# Corpus build: read base parquet -> mutate -> write with the ORIGINAL
# arrow schema (so int32/timestamp[us]/list<float> physical types are
# preserved bit-for-bit through the pandas round trip).
# ---------------------------------------------------------------------------

def build_corpus(variant: str, rebuild: bool = False) -> str:
    from chinook_music_database_analysis_spark.sources import TABLES

    out_dir = os.path.join(OUT_ROOT, variant)
    marker = os.path.join(out_dir, ".complete")
    stamp = f"v={CORPUS_VERSION} seed={VARIANTS[variant][1]} base={BASE}\n"
    if os.path.exists(marker) and not rebuild:
        with open(marker) as fh:
            if fh.read() == stamp:
                return out_dir
        # marker from an older mutator/seed/base: rebuild in place
    os.makedirs(out_dir, exist_ok=True)
    mutate, seed = VARIANTS[variant]
    rng = np.random.default_rng(seed)
    schemas, frames = {}, {}
    for name in TABLES:
        tbl = pq.read_table(f"{BASE}/{name}.parquet")
        schemas[name] = pa.schema(
            [tbl.schema.field(i) for i in range(len(tbl.schema.names))]
        )  # drop pandas metadata
        frames[name] = tbl.to_pandas()
    mutate(frames, rng)
    for name in TABLES:
        df, schema = frames[name], schemas[name]
        for field in schema:
            # Null-injected int columns became float64 in pandas;
            # nullable-int them so arrow casts to the original type.
            if pa.types.is_integer(field.type) and df[field.name].dtype.kind == "f":
                df[field.name] = df[field.name].astype("Int64")
        out = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        pq.write_table(out, f"{out_dir}/{name}.parquet")
    with open(marker, "w") as fh:
        fh.write(stamp)
    return out_dir


# ---------------------------------------------------------------------------
# Runner: full registry, driver-mirror compare, per-query JSON.
# ---------------------------------------------------------------------------

def run_variant(variant: str, only: set[str] | None, resume: bool) -> int:
    from chinook_music_database_analysis_spark.plans import ORACLES, QUERIES
    from chinook_music_database_analysis_spark.sources import get_spark
    from chinook_music_database_analysis_spark.testing import (
        frames_mismatch,
        oracle_connection,
    )

    out_dir = build_corpus(variant)
    report_path = os.path.join(OUT_ROOT, f"report_{variant}.json")
    results: dict[str, dict] = {}
    if resume and os.path.exists(report_path):
        with open(report_path) as fh:
            results = json.load(fh)

    spark = get_spark(f"fuzzgate-{variant}")
    con = oracle_connection(out_dir)

    names = [n for n in sorted(QUERIES) if not only or n in only]
    bad = 0
    for i, name in enumerate(names):
        if name in KNOWN_GAPS[variant]:
            results[name] = {
                "status": "excluded",
                "reason": KNOWN_GAPS[variant][name],
            }
            continue
        if resume and results.get(name, {}).get("status") in ("ok", "rows_only"):
            continue
        t0 = time.time()
        try:
            pdf = QUERIES[name](spark, out_dir).toPandas()
            if name not in ORACLES:
                results[name] = {
                    "status": "rows_only",
                    "rows": len(pdf),
                    "sec": round(time.time() - t0, 2),
                }
            else:
                opdf = con.sql(ORACLES[name]).df()
                reason = frames_mismatch(pdf, opdf, name)
                results[name] = {
                    "status": "ok" if reason is None else "mismatch",
                    "rows": len(pdf),
                    "oracle_rows": len(opdf),
                    "sec": round(time.time() - t0, 2),
                }
                if reason is not None:
                    results[name]["reason"] = reason
                    bad += 1
        except Exception as exc:  # noqa: BLE001 — gate must keep going
            results[name] = {
                "status": "error",
                "err": repr(exc)[:600],
                "sec": round(time.time() - t0, 2),
            }
            bad += 1
        with open(report_path, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
        tag = results[name]["status"]
        if tag not in ("ok", "rows_only") or (i + 1) % 20 == 0:
            print(
                f"[{variant} {i + 1}/{len(names)}] {name}: {tag}",
                flush=True,
            )

    counts: dict[str, int] = {}
    for r in results.values():
        counts[r["status"]] = counts.get(r["status"], 0) + 1
    print(f"== {variant}: {counts} -> {report_path}", flush=True)
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--variant", default="all", choices=[*VARIANTS, "all"])
    ap.add_argument("--only", default="")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--rebuild", action="store_true")
    args = ap.parse_args()
    only = {s for s in args.only.split(",") if s} or None
    variants = list(VARIANTS) if args.variant == "all" else [args.variant]
    bad = 0
    for v in variants:
        if args.rebuild:
            build_corpus(v, rebuild=True)
        bad += run_variant(v, only, args.resume)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
