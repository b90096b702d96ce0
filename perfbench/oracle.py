"""Reference answers for the lake benchmark, computed by DuckDB over the raw
parquet with no graft code involved. A workload's deletes and updates are
replayed as plain filters and projections over the raw rows."""
import math
import time

from gen import mor_model

REL_TOL = 1e-9
ABS_TOL = 1e-6


def to_duckdb(sql):
    return sql.replace("TIMESTAMP_NTZ '", "TIMESTAMP '")


class Oracle:
    def __init__(self, raw_path):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{raw_path}')")

    def query(self, sql, model):
        """Runs one benchmark query over `model` (a SELECT giving the table's
        rows); returns the rows and DuckDB's wall time."""
        text = to_duckdb(sql.replace("{t}", f"({model}) AS t"))
        t0 = time.perf_counter()
        rows = self.con.execute(text).fetchall()
        return rows, time.perf_counter() - t0

    def count(self, model, where):
        return self.con.execute(to_duckdb(f"SELECT count(*) FROM ({model}) AS t WHERE {where}")).fetchone()[0]


def same_value(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return str(a) == str(b)
    if hasattr(b, "isoformat"):
        b = b.isoformat(sep=" ")
        return str(a) == b
    fa, fb = float(a), float(b)
    if math.isnan(fa) or math.isnan(fb):
        return math.isnan(fa) and math.isnan(fb)
    return math.isclose(fa, fb, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def same_rows(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(same_value(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


# ------------------------------------------------------------- table models

def lookup_model():
    return "SELECT * FROM raw"


class IngestModel:
    """The `ingest` table after a prefix of its statements. Each raw row is
    tagged with the index of the statement that inserted it (-1 for the
    seed); a DELETE or UPDATE at index j touches the matching rows inserted
    before j. Statements that failed are not replayed."""

    def __init__(self, seed_pred):
        self.inserts = [(-1, seed_pred)]
        self.deletes = []
        self.updates = []

    def apply(self, index, op):
        if "inserts" in op:
            self.inserts.append((index, op["inserts"]))
        elif "deletes" in op:
            self.deletes.append((index, op["deletes"]))
        elif "updates" in op:
            self.updates.append((index, op["updates"]))

    def at(self, k):
        """The table as statement k saw it (statements 0..k-1 applied)."""
        tag = "CASE " + " ".join(f"WHEN {p} THEN {i}" for i, p in self.inserts if i < k) + " END"
        gone = "".join(f" AND NOT (__ins < {j} AND {p})" for j, p in self.deletes if j < k)
        bumps = " + ".join(f"CASE WHEN __ins < {j} AND {p} THEN 1 ELSE 0 END"
                           for j, p in self.updates if j < k) or "0"
        return (f"SELECT * EXCLUDE (__ins) REPLACE (l_quantity + ({bumps}) AS l_quantity) "
                f"FROM (SELECT *, {tag} AS __ins FROM raw) WHERE __ins IS NOT NULL{gone}")


def static_model(workload):
    return {"lookup": lookup_model, "mor_scan": mor_model}[workload]()

