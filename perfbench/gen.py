"""Seeded inputs for the lake benchmark: the raw lineitem table and, per
workload, the operation list graft receives.

Everything here is a pure function of the seed, so the same seed always
yields the same parquet bytes and the same SQL text. Table references in
the SQL are written `{t}`; the JVM runner substitutes the catalog table (or,
for library reads, the view over the library reader's DataFrame), and the
oracle substitutes its reference model.
"""
import datetime as dt
import random

EPOCH = dt.date(1970, 1, 1)
FIRST_ORDER = dt.date(1995, 1, 1)
LAST_ORDER = dt.date(2001, 10, 1)
DATA_END = dt.date(2001, 11, 6)  # day after the latest possible ship date
STATUS_CUT = dt.date(2000, 6, 1)
INGEST_START = dt.date(1998, 1, 1)
LATE = "l_orderkey % 16 = 5"  # rows that arrive late in `ingest`
# Raw lineitem rows per workload. The two read workloads use the size of
# TPC-H sf0.1; `ingest` uses a third of it, so that a run gets through
# enough statements while each statement still rescans the table it grew.
ROWS = {"lookup": 600_000, "mor_scan": 600_000, "ingest": 200_000}

def day(d):
    return (d - EPOCH).days


def date_of(n):
    return EPOCH + dt.timedelta(days=n)


def ts(d):
    """A timestamp literal. Spark reads it as TIMESTAMP_NTZ, the type of
    l_shipdate, so the comparison stays pushable; the oracle rewrites it."""
    return f"TIMESTAMP_NTZ '{d.isoformat()} 00:00:00'"


def write_lineitem(path, seed, rows):
    """Writes `rows` lineitem rows to one parquet file. Orders carry 1-7
    lines shipped 1-35 days after an order date spread over 1995-2001, so
    ship dates cover 83 calendar months; (l_orderkey, l_linenumber) is
    unique and quantities are whole numbers."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, size=rows)  # upper bound on orders needed
    ends = np.cumsum(lines)
    orders = int(np.searchsorted(ends, rows)) + 1
    lines = lines[:orders]
    lines[-1] -= int(ends[orders - 1] - rows)
    orderkey = np.repeat(np.arange(1, orders + 1, dtype=np.int64), lines)
    linenumber = (np.arange(rows) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    orderdate = np.repeat(rng.integers(day(FIRST_ORDER), day(LAST_ORDER) + 1, size=orders), lines)
    shipdate = orderdate + rng.integers(1, 36, size=rows)
    partkey = rng.integers(1, 20001, size=rows, dtype=np.int64)
    suppkey = rng.integers(1, 1001, size=rows, dtype=np.int64)
    quantity = rng.integers(1, 51, size=rows).astype(np.float64)
    cents = 90000 + (partkey // 10) % 20001 + 100 * (partkey % 1000)
    extendedprice = np.round(quantity * cents) / 100.0
    discount = rng.integers(0, 11, size=rows) / 100.0
    tax = rng.integers(0, 9, size=rows) / 100.0
    settled = shipdate < day(STATUS_CUT)
    returnflag = np.where(settled, np.where(rng.random(rows) < 0.5, "R", "A"), "N")
    linestatus = np.where(settled, "F", "O")
    table = pa.table({
        "l_orderkey": orderkey, "l_partkey": partkey, "l_suppkey": suppkey,
        "l_linenumber": linenumber, "l_quantity": quantity,
        "l_extendedprice": extendedprice, "l_discount": discount, "l_tax": tax,
        "l_returnflag": returnflag.astype(object), "l_linestatus": linestatus.astype(object),
        "l_shipdate": pa.array(shipdate.astype("datetime64[D]").astype("datetime64[us]"),
                               type=pa.timestamp("us")),
    })
    pq.write_table(table, path)


# ---------------------------------------------------------------- lookup

def lookup_query(rng):
    """A narrow ship-date window (1-14 days) with a small aggregate and, for
    most templates, a residual predicate."""
    lo = date_of(rng.randrange(day(FIRST_ORDER) + 1, day(DATA_END) - 14))
    hi = lo + dt.timedelta(days=rng.randint(1, 14))
    window = f"l_shipdate >= {ts(lo)} AND l_shipdate < {ts(hi)}"
    template = rng.randrange(4)
    if template == 0:
        sql = ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
               "sum(l_extendedprice * (1 - l_discount)) AS revenue "
               f"FROM {{t}} WHERE {window} "
               "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    elif template == 1:
        d = rng.randint(2, 9) / 100.0
        sql = ("SELECT count(*) AS n, sum(l_extendedprice * l_discount) AS revenue "
               f"FROM {{t}} WHERE {window} AND l_discount BETWEEN {d - 0.01:.2f} AND {d + 0.01:.2f} "
               f"AND l_quantity < {rng.randint(10, 40)}")
    elif template == 2:
        sql = ("SELECT l_orderkey, l_linenumber, l_extendedprice "
               f"FROM {{t}} WHERE {window} AND l_quantity >= {rng.randint(20, 45)} "
               "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10")
    else:
        flag = rng.choice("RAN")
        sql = ("SELECT count(*) AS n, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi, "
               "avg(l_quantity) AS q, count(DISTINCT l_suppkey) AS suppliers "
               f"FROM {{t}} WHERE {window} AND l_returnflag = '{flag}'")
    return {"kind": "select", "sql": sql, "lo": lo.isoformat(),
            "hi": (hi - dt.timedelta(days=1)).isoformat(), "where": window}


def append_all():
    return {"kind": "append_grouped", "src": "SELECT * FROM raw", "group_months": 1}


# -------------------------------------------------------------- mor_scan

MOR_END = dt.date(1998, 1, 1)  # `mor_scan` keeps three years: 36 monthly files
MOR_DELETES = ["l_orderkey % 17 = 3", "l_orderkey % 23 = 11"]
MOR_UPDATE = "l_orderkey % 19 = 7"
MOR_EQ_DELETE = "l_orderkey % 29 = 13"


def mor_fixture():
    """Set-up writes of `mor_scan`: three years of rows (one file and one
    manifest per month), two deletion-vector waves, one UPDATE and one
    equality-delete wave over the whole table."""
    append = {"kind": "append_grouped", "group_months": 1,
              "src": f"SELECT * FROM raw WHERE l_shipdate < {ts(MOR_END)}"}
    return [append] + [
        {"kind": "delete", "sql": f"DELETE FROM {{t}} WHERE {p}"} for p in MOR_DELETES
    ] + [
        {"kind": "update", "sql": f"UPDATE {{t}} SET l_quantity = l_quantity + 1 WHERE {MOR_UPDATE}"},
        {"kind": "eq_delete", "src": f"SELECT DISTINCT l_orderkey FROM raw WHERE {MOR_EQ_DELETE}"},
    ]


def mor_model():
    """The table `mor_fixture` leaves, as plain SQL over the raw rows."""
    keep = " AND ".join([f"l_shipdate < {ts(MOR_END)}"] +
                        [f"NOT ({p})" for p in MOR_DELETES + [MOR_EQ_DELETE]])
    return ("SELECT * REPLACE (CASE WHEN " + MOR_UPDATE +
            " THEN l_quantity + 1 ELSE l_quantity END AS l_quantity) FROM raw WHERE " + keep)


def mor_query(rng, kind, template):
    """A full-table analytic query of one of three templates, through SQL
    (`select`) or through the library reader (`lib_select`)."""
    if template == 0:
        cut = MOR_END - dt.timedelta(days=rng.randint(60, 120))
        sql = ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
               "sum(l_extendedprice) AS sum_base, "
               "sum(l_extendedprice * (1 - l_discount)) AS sum_disc, "
               "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
               "avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS n "
               f"FROM {{t}} WHERE l_shipdate <= {ts(cut)} "
               "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    elif template == 1:
        sql = ("SELECT year(l_shipdate) AS y, month(l_shipdate) AS m, count(*) AS n, "
               "sum(l_quantity) AS qty, avg(l_extendedprice) AS price "
               f"FROM {{t}} WHERE l_discount >= {rng.randint(0, 6) / 100.0:.2f} "
               "GROUP BY year(l_shipdate), month(l_shipdate) ORDER BY y, m")
    else:
        sql = ("SELECT l_orderkey, sum(l_quantity) AS qty, count(*) AS n "
               f"FROM {{t}} WHERE l_returnflag = '{rng.choice('RAN')}' "
               "GROUP BY l_orderkey ORDER BY qty DESC, l_orderkey LIMIT 10")
    return {"kind": kind, "sql": sql, "where": "TRUE"}


def mor_ops(rng, count):
    """Blocks of four queries in a seeded order: each template once through
    SQL and one through the library reader, its template taking turns from
    block to block. Every block has the same mix, so a run's median does not
    depend on which templates the seed happened to draw, and the library
    share is exactly a quarter."""
    ops = []
    while len(ops) < count:
        block = [mor_query(rng, "select", t) for t in range(3)]
        block.append(mor_query(rng, "lib_select", len(ops) // 4 % 3))
        rng.shuffle(block)
        ops += block
    return ops


# ---------------------------------------------------------------- ingest

# Each block of ten statements holds this mix; the seed orders each block.
# Half are INSERTs, so the median latency stays inside the INSERT mode
# whatever the order within the blocks a run gets through.
INGEST_BLOCK = ["insert"] * 5 + ["select"] * 2 + ["delete", "update", "props"]


class Ingest:
    """Replay of arrivals after 1998-01: time-ordered INSERT slices, late
    arrivals spanning months, DELETE/UPDATE by key residue, property
    commits and verifying SELECTs. Rows are identified by the predicate of
    the statement that inserted them, so the oracle can rebuild the table."""

    SEED_PRED = f"l_shipdate < {ts(INGEST_START)} AND NOT ({LATE})"

    def __init__(self, rng):
        self.rng = rng
        self.clock = INGEST_START
        self.late_from = FIRST_ORDER
        self.delete_residues = rng.sample(range(101), 101)
        self.n = 0

    @staticmethod
    def warmup(rng):
        """Set-up statements that warm the write path on a small table of
        their own (`warm`), leaving the measured table untouched."""
        ops = [{"kind": "ctas", "sql": "CREATE TABLE {t} AS SELECT * FROM raw WHERE "
                                       f"l_shipdate < {ts(dt.date(1995, 3, 1))}"}]
        ops += [Ingest(rng).make(k) for k in ("insert", "delete", "update", "props", "select")]
        for op in ops:
            op["table"] = "warm"
        return ops

    def fixture(self):
        return [{"kind": "ctas", "sql": f"CREATE TABLE {{t}} AS SELECT * FROM raw WHERE {self.SEED_PRED}",
                 "inserts": self.SEED_PRED}]

    def ops(self):
        while True:
            block = list(INGEST_BLOCK)
            self.rng.shuffle(block)
            for kind in block:
                op = self.make(kind)
                if op is None:
                    return
                yield op

    def make(self, kind):
        rng = self.rng
        self.n += 1
        if kind == "insert":
            if rng.random() < 0.15 and self.late_from < self.clock - dt.timedelta(days=60):
                lo = self.late_from
                hi = min(lo + dt.timedelta(days=rng.randint(90, 240)), self.clock)
                self.late_from = hi
                pred = f"{LATE} AND l_shipdate >= {ts(lo)} AND l_shipdate < {ts(hi)}"
                kind = "insert_late"
            else:
                lo = self.clock
                hi = lo + dt.timedelta(days=rng.randint(3, 10))
                if hi > DATA_END:
                    return None
                self.clock = hi
                pred = f"NOT ({LATE}) AND l_shipdate >= {ts(lo)} AND l_shipdate < {ts(hi)}"
            return {"kind": "insert", "subkind": kind,
                    "sql": f"INSERT INTO {{t}} SELECT * FROM raw WHERE {pred}", "inserts": pred}
        if kind == "delete":
            pred = f"l_orderkey % 101 = {self.delete_residues.pop()}"
            return {"kind": "delete", "sql": f"DELETE FROM {{t}} WHERE {pred}", "deletes": pred}
        if kind == "update":
            pred = f"l_orderkey % 103 = {rng.randrange(103)}"
            return {"kind": "update", "sql": f"UPDATE {{t}} SET l_quantity = l_quantity + 1 WHERE {pred}",
                    "updates": pred}
        if kind == "props":
            value = f"{self.clock.isoformat()}#{self.n}"
            return {"kind": "props", "value": value,
                    "sql": f"ALTER TABLE {{t}} SET TBLPROPERTIES ('perfbench.clock' = '{value}')"}
        lo = self.clock - dt.timedelta(days=90)
        return {"kind": "select", "lo": lo.isoformat(), "where": f"l_shipdate >= {ts(lo)}",
                "sql": ("SELECT count(*) AS n, sum(l_quantity) AS qty, sum(l_extendedprice) AS price, "
                        f"count(DISTINCT l_orderkey) AS orders FROM {{t}} WHERE l_shipdate >= {ts(lo)}")}


INGEST_REREAD = ("SELECT year(l_shipdate) AS y, count(*) AS n, sum(l_quantity) AS qty, "
                 "sum(l_extendedprice) AS price, min(l_orderkey) AS lo, max(l_orderkey) AS hi "
                 "FROM {t} GROUP BY year(l_shipdate) ORDER BY y")

# Statements that match nothing. graft currently refuses each of them
# (a row-level commit with no changes; schema inference over zero rows);
# the benchmark runs them after the timed phase and reports the outcome.
EDGE_PROBES = [
    ("delete_no_match", "DELETE FROM {t} WHERE l_orderkey % 101 = 0 AND l_orderkey < 0"),
    ("update_no_match", "UPDATE {t} SET l_quantity = l_quantity + 1 WHERE l_orderkey % 103 = 0 AND l_orderkey < 0"),
    ("insert_empty", f"INSERT INTO {{t}} SELECT * FROM raw WHERE l_shipdate >= {ts(dt.date(2003, 1, 1))}"),
]


# ------------------------------------------------------------------ plans

def number(ops, prefix):
    for i, op in enumerate(ops):
        op["id"] = f"{prefix}{i:04d}"
    return ops


def plan(workload, seed, lookup_ops=4000, mor_ops_count=1500):
    """The operation lists of one run: fixture (set-up writes), warm-up,
    timed ops and after-ops."""
    rng = random.Random(f"{workload}:{seed}")
    warm = random.Random(f"{workload}:{seed}:warmup")
    if workload == "lookup":
        fixture = [append_all()]
        warmup = [lookup_query(warm) for _ in range(6)]
        ops = [lookup_query(rng) for _ in range(lookup_ops)]
        after = []
    elif workload == "mor_scan":
        fixture = mor_fixture()
        warmup = [mor_query(warm, k, warm.randrange(3)) for k in ["select", "lib_select"]]
        ops = mor_ops(rng, mor_ops_count)
        after = []
    elif workload == "ingest":
        gen = Ingest(rng)
        fixture = gen.fixture()
        ops = list(gen.ops())
        warmup = Ingest.warmup(warm)
        after = [{"kind": "select", "sql": INGEST_REREAD, "fresh": True, "where": "TRUE"},
                 {"kind": "props_check", "fresh": True,
                  "sql": "SHOW TBLPROPERTIES {t} ('perfbench.clock')"}]
        after += [{"kind": "probe", "probe": name, "sql": sql} for name, sql in EDGE_PROBES]
        after.append({"kind": "select", "sql": "SELECT count(*) AS n FROM {t}", "fresh": True,
                      "where": "TRUE"})
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return {"fixture": number(fixture, "f"), "warmup": number(warmup, "w"),
            "ops": number(ops, "o"), "after": number(after, "a")}
