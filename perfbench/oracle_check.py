#!/usr/bin/env python3
"""Pin the catalog workload's result digests and cross-check the rows
against DuckDB running graft's own oracle SQL (SparkEntry.oracleSql).

    python3 perfbench/oracle_check.py

Run from the repository root. For every row of the `catalog` workload
it runs the query once in the benchmark JVM, records its
digest and dumps its result as parquet; then DuckDB runs the row's
oracle SQL over the same sf0.1 tables and the two results are compared
as sorted rows, normalised by tools/verify_local.py's helpers.
Writes perfbench/digests.tsv: one line per row with the row count, the
digest and how it was checked — `duckdb-<version>` when the oracle
matched, `seed-pin` when the row has no oracle or its oracle did not
finish. Exits non-zero if any oracle disagrees.
"""
import json
import shutil
import sys
from pathlib import Path

import duckdb

import run

# the repository's own oracle-compare helpers (table list, value
# normalisation, interruptible query)
sys.path.insert(0, str(run.ROOT / "tools"))
from verify_local import TABLES, norm, run_with_timeout  # noqa: E402


def sorted_rows(con, sql, timeout):
    cols = sorted(con.sql(sql).columns)
    rows = run_with_timeout(con, timeout, lambda: con.sql(
        f"SELECT {','.join(cols)} FROM ({sql})").fetchall())
    return cols, sorted(tuple(norm(v) for v in r) for r in rows)


# seconds an oracle may run before it counts as not finishing
ORACLE_TIMEOUT_S = 600


def main():
    build = run.build_dir()
    sf = run.sf_dir()
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    work = build / "work" / "pin"
    dump = build / "oracle"
    for d in (work, dump):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    res = run.run_jvm(build, [
        "--workload", "catalog", "--seed", "0", "--seconds", "0", "--trace", "0",
        "--work", str(work), "--sf", sf, "--pin", "1", "--dump", str(dump)], "pin")
    if not res["correct"]:
        run.fail(f"a row failed while pinning; see {work}/pins.tsv")
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    lines, bad = [], 0
    for line in (work / "pins.tsv").read_text().splitlines():
        name, nrows, digest, family = line.split("\t")
        check = "seed-pin"
        if name in oracle:
            try:
                got = sorted_rows(con, f"SELECT * FROM read_parquet('{dump / name}/*.parquet')",
                                  ORACLE_TIMEOUT_S)
                exp = sorted_rows(con, oracle[name], ORACLE_TIMEOUT_S)
                if got == exp:
                    check = f"duckdb-{duckdb.__version__}"
                else:
                    check = "ORACLE-MISMATCH"
                    bad += 1
            except Exception as e:  # an oracle that does not finish keeps the seed pin
                print(f"{name}: oracle did not finish ({type(e).__name__}: {e})")
        print(f"{name:24s} {nrows:>8s} rows  {check}")
        lines.append(f"{name}\t{nrows}\t{digest}\t{check}")
    (run.HERE / "digests.tsv").write_text(
        "# name\trows\tdigest\tcheck\n" + "\n".join(lines) + "\n")
    if bad:
        sys.exit(f"{bad} rows disagree with their DuckDB oracle")


if __name__ == "__main__":
    main()
