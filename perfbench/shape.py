"""Compare the generated ``events`` and ``documents`` tables with the
driver's sf tables they stand in for.

    python3 perfbench/shape.py --sf-dir <dir holding events.parquet and documents.parquet>

Generates both tables at the sf tables' own row counts and prints, for
each side, the statistics ``inputs.py`` was matched to, then the row
counts of the DuckDB oracles the ``query`` workload runs on them
(``td_minhash_lsh_pairs`` alone takes about 30 s at 5,000 documents).
Not part of a benchmark run.
"""

from __future__ import annotations

import argparse
import collections
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import inputs  # noqa: E402

ORACLE_NAMES = (
    "pipeline_errors_agg", "pipeline_routed_rows", "rollup_multires",
    "td_minhash_lsh_pairs", "dedup_exact", "td_decontam",
)


def event_stats(e: pd.DataFrame) -> dict:
    return {
        "rows": len(e),
        "users": e.user_id.nunique(),
        "event_type mix": e.event_type.value_counts(normalize=True).round(3).to_dict(),
        "value p10/p50/p90/p99": tuple(e.value.quantile([0.1, 0.5, 0.9, 0.99]).round(2)),
        "props values": e.props.nunique(),
        "span days": round((e.ts.max() - e.ts.min()).total_seconds() / 86400, 2),
    }


def document_stats(d: pd.DataFrame) -> dict:
    tokens = d.text.str.split()
    dup = d.text.str.endswith(" dup")
    return {
        "rows": len(d),
        "vocabulary": len(collections.Counter(w for t in tokens for w in t)),
        "tokens p10/p50/p90": tuple(tokens.str.len().quantile([0.1, 0.5, 0.9])),
        "n_chars p10/p50/p90": tuple(d.n_chars.quantile([0.1, 0.5, 0.9])),
        "lang mix": d.lang.value_counts(normalize=True).round(3).to_dict(),
        "sources": d.source.nunique(),
        "near-duplicate rate": dup.mean(),
        "near-duplicates whose source is present": round(
            d.text[dup].str[:-4].isin(set(d.text[~dup])).mean(), 3
        ),
    }


def main() -> None:
    import duckdb

    from opentelemetry_collector_spark.plans.entry_queries import ORACLES

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    real = {t: pd.read_parquet(os.path.join(args.sf_dir, f"{t}.parquet")) for t in ("events", "documents")}
    sides = {
        "sf": real,
        "generated": {
            "events": inputs.make_events_pdf(len(real["events"]), args.seed),
            "documents": inputs.make_documents_pdf(len(real["documents"]), args.seed),
        },
    }
    for side, tables in sides.items():
        print(side, "events", event_stats(tables["events"]))
        print(side, "documents", document_stats(tables["documents"]))
        con = duckdb.connect()
        for t, df in tables.items():
            con.register(t, df)
        for q in ORACLE_NAMES:
            print(side, q, "rows", len(con.execute(ORACLES[q]).df()))
        con.close()


if __name__ == "__main__":
    main()
