#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run graft.Verify output
against DuckDB oracles and compare row/schema/values (columns sorted by name,
rows in produced order).

--json <path>: also emit a per-query artifact in the driver's exact
CORRECTNESS format ({"rows_match","schema_match","hash_match","spark_rows",
"oracle_rows","err"} per query) covering EVERY dumped query — oracled ones
with the full compare, no-oracle ones as {"err":"no_oracle"} rows-only
entries. The round commits this as CORRECTNESS_self.json so a hard
correctness receipt survives even when the driver's own artifact comes back
empty (r03/r04/r07/r10/r17).

Each oracle prints its line as soon as it is decided, behind a running
[k/N] tally. A SIGTERM or SIGINT (a wrapper's timeout, ^C) prints the
partial summary "checked k of N, f failed" at once and exits non-zero.
"""
import duckdb, json, sys, glob, os, signal, threading
import pandas as pd

args = [a for a in sys.argv[1:] if not a.startswith("--")]
json_out = None
if "--json" in sys.argv:
    json_out = sys.argv[sys.argv.index("--json") + 1]
    if json_out in args:
        args.remove(json_out)
out_dir = args[0] if len(args) > 0 else "/tmp/verify_out"
sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
report = {}


def entry(rows_match=None, schema_match=None, hash_match=None,
          spark_rows=None, oracle_rows=None, err=None):
    return {"rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err}


def check(name, sql):
    """Compare one dumped query with its oracle: (passed, entry, message)."""
    res_dir = f"{out_dir}/{name}"
    if not os.path.isdir(res_dir):
        return False, entry(err="missing: query not dumped"), f"MISSING {name}"
    got = pd.read_parquet(res_dir)
    try:
        exp = con.execute(sql).df()
    except Exception as e:
        return (False, entry(spark_rows=len(got), err=f"oracle: {e}"),
                f"ORACLE-ERR {name}: {e}")
    got = got[sorted(got.columns)].reset_index(drop=True)
    exp = exp[sorted(exp.columns)].reset_index(drop=True)
    n_got, n_exp = len(got), len(exp)
    if list(got.columns) != list(exp.columns):
        return (False, entry(rows_match=(n_got == n_exp), schema_match=False,
                             hash_match=False, spark_rows=n_got,
                             oracle_rows=n_exp, err=None),
                f"SCHEMA {name}: {list(got.columns)} vs {list(exp.columns)}")
    if n_got != n_exp:
        return (False, entry(rows_match=False, schema_match=True,
                             hash_match=False, spark_rows=n_got,
                             oracle_rows=n_exp, err=None),
                f"ROWS {name}: {n_got} vs {n_exp}")
    # normalize dtypes for compare
    try:
        gd = got.astype(str); ed = exp.astype(str)
    except Exception as e:
        return (False, entry(rows_match=True, schema_match=True,
                             spark_rows=n_got, oracle_rows=n_exp,
                             err=f"cast: {e}"),
                f"CAST-ERR {name}: {e}")
    if not gd.equals(ed):
        neq = (gd != ed).any(axis=1)
        idx = neq[neq].index[:3]
        lines = [f"VALUES {name}: first diffs at rows {list(idx)}"]
        for i in idx:
            lines.append(f"  got: {gd.loc[i].to_dict()}")
            lines.append(f"  exp: {ed.loc[i].to_dict()}")
        return (False, entry(rows_match=True, schema_match=True,
                             hash_match=False, spark_rows=n_got,
                             oracle_rows=n_exp, err=None),
                "\n".join(lines))
    return (True, entry(rows_match=True, schema_match=True, hash_match=True,
                        spark_rows=n_got, oracle_rows=n_exp, err=None),
            f"OK {name} ({n_got} rows)")


# one line per oracle as soon as it is decided, with a running tally. The
# oracles run on a worker thread so the main thread stays free to take a
# TERM or INT (a wrapper's timeout, ^C) at once, even while a long DuckDB
# query is in flight, and print the partial summary before exiting.
total = len(oracle)
checked = fails = 0


def check_all():
    global checked, fails
    for name, sql in sorted(oracle.items()):
        ok, report[name], message = check(name, sql)
        checked += 1
        fails += not ok
        print(f"[{checked}/{total}] {message}", flush=True)


def interrupted(signum, _frame):
    print(f"\ninterrupted by {signal.Signals(signum).name}: "
          f"checked {checked} of {total}, {fails} failed", flush=True)
    os._exit(128 + signum)


signal.signal(signal.SIGTERM, interrupted)
signal.signal(signal.SIGINT, interrupted)
worker = threading.Thread(target=check_all, daemon=True)
worker.start()
while worker.is_alive():
    worker.join(0.2)
if checked < total:  # the worker died on an unexpected error (traceback above)
    sys.exit(f"stopped: checked {checked} of {total}, {fails} failed")

# dumped queries WITHOUT an oracle (sketch/recall families): rows-only
# entries, exactly the driver's weaker check
for res_dir in sorted(glob.glob(f"{out_dir}/*/")):
    name = os.path.basename(res_dir.rstrip("/"))
    if name in oracle:
        continue
    try:
        n = len(pd.read_parquet(res_dir))
        print(f"NO-ORACLE {name} ({n} rows)")
        report[name] = entry(spark_rows=n, err="no_oracle")
    except Exception as e:
        print(f"READ-ERR {name}: {e}"); fails += 1
        report[name] = entry(err=f"read: {e}")

if json_out:
    with open(json_out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(f"wrote {json_out} ({len(report)} entries)")
print(f"\n{len(oracle)-fails}/{len(oracle)} matched")
sys.exit(1 if fails else 0)
