#!/usr/bin/env python3
"""Record the reference digests a catalog workload checks its outputs against.

    python3 perfbench/tools/record_refs.py catalog

Runs every query of the workload once through the harness's record mode,
which writes each result as Parquet plus its digest. A result's digest
becomes the reference only after the result is shown correct:

- fixpoint queries (`Catalog.otherPath`): the digest must equal that of
  the operator's other path (driver twin vs distributed supersteps);
- every other query: the Parquet result must equal DuckDB's replay of
  the query's `SparkEntry.oracleSql` over the same tables, compared the
  way tools/check_oracle.py compares (names, row count, kinds, values).

Writes perfbench/ref/<workload>.tsv: query, digest, reference used.
Run it only when a workload's query list or the fixtures change.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def duckdb_matches(con, sql, result_dir):
    got = pd.concat([pd.read_parquet(f) for f in sorted(result_dir.glob("*.parquet"))],
                    ignore_index=True)
    want = con.execute(sql).fetchdf()
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns) or len(g) != len(w):
        return False, f"cols {list(g.columns)} vs {list(w.columns)}, rows {len(g)} vs {len(w)}"
    if [t.kind for t in g.dtypes] != [t.kind for t in w.dtypes]:
        return False, f"kinds {list(g.dtypes)} vs {list(w.dtypes)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return False, str(e).split("\n")[0]
    return True, f"{len(g)} rows"


def main(workload):
    cp = run.build()
    out = run.ROOT / ".bench_work" / f"record-{workload}"
    work = out / "work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    run.harness(cp, ["--workload", workload, "--data", str(run.DATA), "--work", str(work),
                     "--record", str(out)], work)

    def tsv(name):
        return dict(l.split("\t", 1) for l in (out / name).read_text().splitlines() if l)
    digests, other = tsv("digests.tsv"), tsv("other_path.tsv")
    oracles = json.loads((out / "oracles.json").read_text())
    cons = {}

    def connect(tables):
        if tables not in cons:
            con = cons[tables] = duckdb.connect()
            for t in TABLES:
                p = Path(tables) / f"{t}.parquet"
                if p.exists():
                    src = f"{p}/*.parquet" if p.is_dir() else str(p)
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        return cons[tables]
    lines, bad = [], 0
    for q, d in digests.items():
        if q in other:
            ok, why, src = other[q] == d, f"other path {other[q]}", "other-path"
        elif q in oracles:
            o = oracles[q]
            ok, why = duckdb_matches(connect(o["tables"]), o["sql"], out / "results" / q)
            src = "duckdb"
        else:
            ok, why, src = False, "no reference", "-"
        print(f"{q}: {'OK' if ok else 'MISMATCH'} ({src}: {why})")
        if ok:
            lines.append(f"{q}\t{d}\t{src}")
        else:
            bad += 1
    if bad:
        sys.exit(f"{bad} queries have no verified reference; nothing written")
    ref = run.BENCH / "ref" / f"{workload}.tsv"
    ref.parent.mkdir(exist_ok=True)
    ref.write_text("\n".join(lines) + "\n")
    print(f"wrote {ref}")


if __name__ == "__main__":
    main(sys.argv[1])
