#!/usr/bin/env python3
"""Local pre-validation of SparkEntry.queries vs oracleSql (mimics the driver).

Usage:
  python3 tools/check.py [--sf /root/testdata/sf0.01] [--out /tmp/verify_out]
                         [--nosbt] [--only q1_pricing_summary,'iceberg_*',...]

Runs `sbt "runMain graft.Verify <sf> <out> [<only>]"` (unless --nosbt), then executes
each oracle SQL in DuckDB with views over the same parquet tables and compares
row counts, schemas (pandas dtypes) and values (exact for non-floats, 1e-9
relative tolerance for floats, as a conservative stand-in for the driver's
hash compare — our queries pre-round so exact match is expected).
`--only` selects the keys graft.Verify runs and the compare checks; an entry
ending in `*` selects every key with that prefix.
"""
import argparse, glob, json, math, os, subprocess, sys
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/verify_out")
    ap.add_argument("--nosbt", action="store_true")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    only = args.only.split(",") if args.only else None
    def selected(name):
        return only is None or any(
            name.startswith(p[:-1]) if p.endswith("*") else name == p for p in only)

    if not args.nosbt:
        keys = f" {args.only}" if args.only else ""
        r = subprocess.run(["sbt", f'runMain graft.Verify {args.sf} {args.out}{keys}'],
                           cwd="/root/repo", capture_output=True, text=True)
        sys.stdout.write(r.stdout[-4000:])
        if r.returncode != 0:
            sys.stdout.write(r.stderr[-4000:])
            print("VERIFY RUN FAILED"); sys.exit(1)

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")
    oracle = json.load(open(f"{args.out}/oracle_sql.json"))

    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if not selected(name): continue
        pdir = f"{args.out}/{name}"
        if not glob.glob(f"{pdir}/*.parquet"):
            print(f"FAIL {name}: spark output missing"); n_fail += 1; continue
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        act = con.sql(f"SELECT * FROM '{pdir}/*.parquet'").df()
        ok, msg = compare(act, exp)
        if ok: n_pass += 1; print(f"PASS {name} ({len(act)} rows)")
        else: n_fail += 1; print(f"FAIL {name}: {msg}")
    # Planted-PII fixture: the synthetic corpus contains no PII, so the main
    # compare only ever exercises text_pii_scan's zero path — a Java-regex vs
    # RE2 dialect divergence on the FIRING path would go undetected. Build a
    # tiny documents fixture with known hits per class (plus the adversarial
    # 17-digit run where backtracking and leftmost-longest semantics could
    # disagree on \b\d{13,16}\b), run the Spark query on it, and hash-compare
    # against the same oracle SQL over the fixture. Skipped under --nosbt
    # (needs an sbt run against the fixture dir).
    if not args.nosbt and selected("text_pii_scan"):
        ok = pii_fixture_check(oracle["text_pii_scan"], args.out)
        if ok: n_pass += 1
        else: n_fail += 1
    # Registry ≡ SURVEY §2: every key SparkEntry.queries registers (visible
    # as a dump directory) must have a §2 inventory row and vice versa —
    # the r11/r12 verdicts flagged iceberg_dv_puffin shipping for two rounds
    # with no §2 row ("§2 is the deliverable inventory" doc drift).
    if only is None:
        ok, msg = survey_registry_check(args.out)
        if ok: n_pass += 1; print(f"PASS survey_registry ({msg})")
        else: n_fail += 1; print(f"FAIL survey_registry: {msg}")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

def survey_registry_check(out: str):
    import re
    text = open("/root/repo/SURVEY.md").read()
    s2 = text.split("## §2", 1)[1].split("\n## ", 1)[0]
    survey = set(re.findall(r"^\| `([a-z0-9_]+)` \|", s2, re.M))
    dumped = {os.path.basename(d) for d in glob.glob(f"{out}/*")
              if os.path.isdir(d) and glob.glob(f"{d}/*.parquet")}
    dumped -= {"pii_fixture", "pii_fixture_out"}
    missing_rows = dumped - survey
    missing_impl = survey - dumped
    if missing_rows or missing_impl:
        return False, (f"registry keys with no SURVEY §2 row: {sorted(missing_rows)}; "
                       f"SURVEY §2 rows with no registry dump: {sorted(missing_impl)}")
    return True, f"{len(survey)} keys match"

PII_FIXTURE_ROWS = [
    (1, "contact john.doe@example.com or admin@test.org today", "en", "web"),
    (2, "card 4111111111111111 expires soon", "en", "web"),
    (3, "servers 192.168.1.1 and 10.0.0.255 are up", "en", "code"),
    (4, "call +14155552671 for help", "en", "web"),
    (5, "ssn 123-45-6789 on file", "en", "forum"),
    (6, "digits 12345678901234567 run seventeen long", "en", "forum"),  # adversarial for cc16
    (7, "no pii here at all just words", "en", "web"),
    (8, "mixed a@b.co 10.0.0.1 +12345678 999-99-9999", "en", "code"),
]

def pii_fixture_check(sql: str, out: str) -> bool:
    import subprocess
    fx = os.path.join(out, "pii_fixture")
    os.makedirs(fx, exist_ok=True)
    df = pd.DataFrame(PII_FIXTURE_ROWS, columns=["doc_id", "text", "lang", "source"])
    df["doc_id"] = df["doc_id"].astype("int64")
    df["n_chars"] = df["text"].str.len().astype("int64")
    fcon = duckdb.connect()
    fcon.sql("CREATE TABLE documents AS SELECT * FROM df")
    fcon.sql(f"COPY documents TO '{fx}/documents.parquet' (FORMAT PARQUET)")
    pii_out = os.path.join(out, "pii_fixture_out")
    r = subprocess.run(["sbt", f'runMain graft.Verify {fx} {pii_out} text_pii_scan'],
                       cwd="/root/repo", capture_output=True, text=True)
    if r.returncode != 0 or not glob.glob(f"{pii_out}/text_pii_scan/*.parquet"):
        print("FAIL text_pii_scan[fixture]: verify run failed")
        sys.stdout.write(r.stdout[-2000:])
        return False
    exp = fcon.sql(sql).df()
    act = fcon.sql(f"SELECT * FROM '{pii_out}/text_pii_scan/*.parquet'").df()
    if not (exp["n_hits"].sum() > 0):
        print("FAIL text_pii_scan[fixture]: fixture produced no oracle hits (fixture broken)")
        return False
    ok, msg = compare(act, exp)
    if ok: print(f"PASS text_pii_scan[fixture] ({len(act)} rows, {int(exp['n_hits'].sum())} planted hits)")
    else: print(f"FAIL text_pii_scan[fixture]: {msg}")
    return ok

def compare(act: pd.DataFrame, exp: pd.DataFrame):
    if sorted(act.columns) != sorted(exp.columns):
        return False, f"columns differ: spark={sorted(act.columns)} oracle={sorted(exp.columns)}"
    act = act[sorted(act.columns)]
    exp = exp[sorted(exp.columns)]
    if len(act) != len(exp):
        return False, f"row count: spark={len(act)} oracle={len(exp)}"
    for c in act.columns:
        ad, ed = act[c].dtype, exp[c].dtype
        if pd.api.types.is_float_dtype(ad) != pd.api.types.is_float_dtype(ed) or \
           (pd.api.types.is_integer_dtype(ad) != pd.api.types.is_integer_dtype(ed)
            and not (act[c].isna().any() or exp[c].isna().any())):
            return False, f"dtype {c}: spark={ad} oracle={ed}"
    for c in act.columns:
        a, e = act[c], exp[c]
        if pd.api.types.is_float_dtype(a.dtype) or pd.api.types.is_float_dtype(e.dtype):
            a = pd.to_numeric(a, errors="coerce"); e = pd.to_numeric(e, errors="coerce")
            bad = ~((a.isna() & e.isna()) |
                    (abs(a - e) <= 1e-9 * (1 + abs(e))))
            if bad.any():
                i = bad.idxmax()
                return False, f"value {c} row {i}: spark={a[i]!r} oracle={e[i]!r}"
        else:
            a = a.astype(str); e = e.astype(str)
            bad = a != e
            if bad.any():
                i = bad.idxmax()
                return False, f"value {c} row {i}: spark={act[c][i]!r} oracle={exp[c][i]!r}"
    return True, ""

if __name__ == "__main__":
    main()
