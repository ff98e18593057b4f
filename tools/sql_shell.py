"""Interactive SQL shell — flink-table/flink-sql-client parity.

The reference ships an interactive CLI (SqlClient.java, CliClient.java)
that accepts DDL + queries against a TableEnvironment session. This shell
drives this engine's TableEnvironment the same way: statements ending in
';' execute; SELECTs print a result table, DDL/INSERT report success.

Usage:
    python tools/sql_shell.py [--streaming] [-e "SQL;..."]

-e runs the given ;-separated statements and exits (the reference's
`sql-client.sh -u` update/init mode); otherwise a REPL starts.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_parent_spark.api.table_env import Table, TableEnvironment  # noqa: E402


def run_statement(tenv: TableEnvironment, stmt: str) -> None:
    s = stmt.strip()
    if not s:
        return
    if s.upper().startswith(("SELECT", "WITH", "VALUES")):
        tbl = tenv.sql_query(s)
        rows = tbl.to_df().limit(100).collect()
        cols = tbl.to_df().columns
        widths = [
            max(len(c), *(len(str(r[c])) for r in rows)) if rows else len(c)
            for c in cols
        ]
        line = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
        print(line)
        print("|" + "|".join(f" {c:<{w}} " for c, w in zip(cols, widths)) + "|")
        print(line)
        for r in rows:
            print(
                "|"
                + "|".join(f" {str(r[c]):<{w}} " for c, w in zip(cols, widths))
                + "|"
            )
        print(line)
        print(f"{len(rows)} row(s)")
    else:
        out = tenv.execute_sql(s)
        if isinstance(out, Table):
            for r in out.collect():
                print(tuple(r))
        print("[INFO] Execute statement succeed.")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("-e", "--execute", help=";-separated statements, then exit")
    args = ap.parse_args()
    tenv = TableEnvironment.create(streaming=args.streaming)
    if args.execute:
        for stmt in args.execute.split(";"):
            run_statement(tenv, stmt)
        return
    print("flink_parent_spark SQL shell — end statements with ';', exit with 'quit;'")
    buf: list[str] = []
    while True:
        try:
            line = input("sql> " if not buf else "   > ")
        except EOFError:
            break
        buf.append(line)
        if line.rstrip().endswith(";"):
            stmt = "\n".join(buf).rstrip().rstrip(";")
            buf = []
            if stmt.strip().lower() in ("quit", "exit"):
                break
            try:
                run_statement(tenv, stmt)
            except Exception as e:  # keep the session alive like the CLI
                print(f"[ERROR] {e}")


if __name__ == "__main__":
    main()
