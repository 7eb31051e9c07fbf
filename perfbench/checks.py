"""Output checks, run outside the timed span.

* ``oracle_check``: each query's warm-up result against DuckDB running the
  query's ``SparkEntry.oracleSql`` over the same Parquet, with the rules of
  ``tools/check.py`` (columns sorted by name, rows sorted by every column,
  equal dtype kinds, exact values).
* ``EtlFacts``: what bronze and silver must hold after each
  ``Medallion.runTable`` op, derived from the generated rows alone.
"""
import collections
import datetime as dt
import glob
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen


def oracle_check(data_dir, check_dir, names):
    """{query: error text or ""}; a query without an oracle is an error."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name in names:
        err_file = os.path.join(check_dir, f"{name}.error")
        if os.path.exists(err_file):
            with open(err_file) as f:
                out[name] = "query failed: " + f.read()
        elif name not in oracle:
            out[name] = "no oracle SQL"
        else:
            try:
                got = con.sql(f"SELECT * FROM '{check_dir}/{name}/*.parquet'").df()
                exp = con.sql(oracle[name]).df()
                out[name] = compare(got, exp)
            except Exception as e:  # a broken result or oracle is a mismatch
                out[name] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return out


def compare(got, exp):
    """The comparison of tools/check.py; "" when the frames agree."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns spark={list(got.columns)} duckdb={list(exp.columns)}"
    bad = [(c, str(got[c].dtype), str(exp[c].dtype)) for c in got.columns
           if got[c].dtype.kind != exp[c].dtype.kind]
    if bad:
        return f"dtype kinds (column, spark, duckdb) {bad}"
    if len(got) != len(exp):
        return f"rows spark={len(got)} duckdb={len(exp)}"

    def sortable(df):
        return df.map(lambda v: str(v.tolist()) if hasattr(v, "tolist") else str(v))

    cols = list(got.columns)
    g = got.loc[sortable(got).sort_values(by=cols).index].reset_index(drop=True)
    e = exp.loc[sortable(exp).sort_values(by=cols).index].reset_index(drop=True)
    for c in cols:
        for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            eq = (a == b) or (a is None and b is None)
            if not eq and isinstance(a, float) and isinstance(b, float):
                eq = math.isnan(a) and math.isnan(b)
            if not eq and str(a) != str(b):
                return f"column {c} row {i}: spark={a!r} duckdb={b!r}"
    return ""


# --------------------------------------------------------------------------
# Medallion facts
# --------------------------------------------------------------------------

AUDIT = [("database", "str"), ("year_month", "date"), ("region", "str"),
         ("country", "str"), ("updated_by", "str"), ("updated_on", "ts")]
DATABASE, UPDATED_BY = "mercurygate", "perfbench"
DAYS = {d: f"2024-07-{d:02d}" for d in range(1, gen.DAYS + 1)}  # as PerfBench.scala
HISTORIC = "Historic"


def norm(v, kind):
    """One comparable form for a generated value and a value read back."""
    if v is None:
        return None
    if kind == "int":
        return int(v)
    if kind == "float":
        return float(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d" if kind == "date" and v.time() == dt.time()
                          else "%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def _year_month(row):
    c = row.get("datecreated")
    return None if c is None else c[:7] + "-01"


class EtlFacts:
    """Expected bronze and silver of every (day, table), from the batches.

    ``fault`` is the silver the known fault predicts for a child table:
    ``TableConfig.registry`` keys every table by ``claimnumber``, so silver
    keeps one row per claim, picked by the same dedupByPk order.  A child
    table's silver that matches it exactly is that fault and nothing else."""

    def __init__(self, batches):
        self.bronze, self.silver, self.fault, self.rows = {}, {}, {}, {}
        for day, tables in batches.items():
            for t, rows in tables.items():
                self.rows[(day, t)] = len(rows)
                self.bronze[(day, t)] = collections.Counter(
                    self._bronze_row(t, r) for r in rows)
                self.silver[(day, t)] = self._silver(t, day, rows, gen.KEY[t])
                if gen.KEY[t] != "claimnumber":
                    self.fault[(day, t)] = self._silver(t, day, rows, "claimnumber")

    @staticmethod
    def _bronze_row(t, row):
        return tuple(norm(row[c], k) for c, _, k in gen.COLUMNS[t]) + (_year_month(row),)

    @staticmethod
    def silver_columns(t):
        cols = [(s, k) for _, s, k in gen.COLUMNS[t]] + AUDIT + [("active", "str")]
        return sorted(cols)

    def _silver(self, t, day, rows, key_src):
        """{key: row} for the record key ``key_src`` (a source column),
        where the row is the first by the order dedupByPk states: the
        version column (updated_on, one value per batch) descending, then
        every other column in name order, descending, nulls last."""
        src = {s: c for c, s, _ in gen.COLUMNS[t]}
        key = dict((c, s) for c, s, _ in gen.COLUMNS[t])[key_src]
        cols = self.silver_columns(t)
        audit = {"database": DATABASE, "year_month": None, "region": "NAM",
                 "country": "USA", "updated_by": UPDATED_BY,
                 "updated_on": f"{DAYS[day]} 06:00:00", "active": "Y"}
        groups = collections.defaultdict(list)
        for r in rows:
            vals = dict(audit, year_month=_year_month(r))
            for s, k in cols:
                if s in src:
                    vals[s] = norm(r[src[s]], k)
            groups[vals[key]].append(tuple(vals[s] for s, _ in cols))
        order = [i for i, (s, _) in enumerate(cols) if s not in (key, "updated_on")]

        def rank(v):
            return tuple((v[i] is not None, v[i] if v[i] is not None else 0
                          if cols[i][1] in ("int", "float") else "") for i in order)
        return {k: max(vs, key=rank) for k, vs in groups.items()}


def _bronze_diff(facts, t, day, path):
    if not os.path.isdir(path):
        return f"no bronze at {path}"
    # year_month read as text: claim_diary has only the null partition
    part = ds.partitioning(pa.schema([("year_month", pa.string())]), flavor="hive")
    tab = ds.dataset(path, format="parquet", partitioning=part).to_table()
    src = [c for c, _, _ in gen.COLUMNS[t]]
    missing = [c for c in src + ["year_month"] if c not in tab.column_names]
    if missing:
        return f"bronze lacks columns {missing}"
    kinds = [k for _, _, k in gen.COLUMNS[t]]
    data = [tab.column(c).to_pylist() for c in src]
    ym = [None if v in (None, "__HIVE_DEFAULT_PARTITION__") else norm(v, "date")
          for v in tab.column("year_month").to_pylist()]
    got = collections.Counter(
        tuple(norm(col[i], k) for col, k in zip(data, kinds)) + (ym[i],)
        for i in range(tab.num_rows))
    exp = facts.bronze[(day, t)]
    if got != exp:
        return (f"bronze {path}: {sum(got.values())} rows, {sum((got - exp).values())} "
                f"unexpected, {sum((exp - got).values())} missing")
    return ""


def _silver_diff(exp, key_src, t, path):
    """"" when silver at ``path`` holds exactly ``exp`` ({key: row}) for
    the record key ``key_src``."""
    if not os.path.isdir(path):
        return f"no silver at {path}"
    tab = pq.read_table(path)
    cols = EtlFacts.silver_columns(t)
    if sorted(tab.column_names) != sorted(s for s, _ in cols):
        return (f"silver columns differ: extra {sorted(set(tab.column_names) - {s for s, _ in cols})}"
                f" missing {sorted({s for s, _ in cols} - set(tab.column_names))}")
    if tab.num_rows != len(exp):
        return f"silver {path}: {tab.num_rows} rows for {len(exp)} distinct record keys"
    data = [[norm(v, k) for v in tab.column(s).to_pylist()] for s, k in cols]
    key = [s for s, _ in cols].index(dict((c, s) for c, s, _ in gen.COLUMNS[t])[key_src])
    for i in range(tab.num_rows):
        row = tuple(col[i] for col in data)
        want = exp.get(row[key])
        if want != row:
            return f"silver {path}: key {row[key]!r} holds {row} not {want}"
    return ""


def _silver_check(facts, t, day, path):
    """(kind, text) or None; kind "fault" when the silver is exactly what
    the known fault predicts, "silver" for any other difference."""
    msg = _silver_diff(facts.silver[(day, t)], gen.KEY[t], t, path)
    if not msg:
        return None
    if (day, t) in facts.fault and not _silver_diff(facts.fault[(day, t)], "claimnumber", t, path):
        return ("fault", msg)
    return ("silver", msg)


def _bronze_check(facts, t, day, path):
    msg = _bronze_diff(facts, t, day, path)
    return ("bronze", msg) if msg else None


def etl_check(facts, base, name, rows_reported):
    """Failed checks of one op (``day<d>:<table>``) in the round under
    ``base``, read after the whole round has run: a list of (kind, text);
    kind is "bronze", "silver", "run", or "fault" for a silver that is
    exactly the known fault's (EtlFacts)."""
    day, t = int(name.split(":")[0][3:]), name.split(":")[1]
    b, s = f"{base}/bronze/{t}", f"{base}/silver/{t}"
    out = []
    if rows_reported != facts.rows[(day, t)]:
        out.append(("run", f"runTable reported {rows_reported} rows, batch has {facts.rows[(day, t)]}"))
    checks = [(_bronze_check, b, HISTORIC if day == 1 else DAYS[day], day),
              (_silver_check, s, DAYS[day], day)]
    if day == 1:
        checks.append((_silver_check, s, HISTORIC, 1))
    else:
        # the refresh branch leaves the first load's Historic untouched, and
        # every load of the round keeps its own datePart
        checks += [(_bronze_check, b, HISTORIC, 1), (_silver_check, s, HISTORIC, 1)]
        for kind, d, want in (("bronze", b, {HISTORIC} | {DAYS[k] for k in DAYS if k > 1}),
                              ("silver", s, {HISTORIC} | set(DAYS.values()))):
            parts = {p.split("=", 1)[1] for p in os.listdir(d) if p.startswith("datePart=")} \
                if os.path.isdir(d) else set()
            if parts != want:
                out.append((kind, f"{d} holds datePart {sorted(parts)}, expected {sorted(want)}"))
    for fn, root, part, fact_day in checks:
        bad = fn(facts, t, fact_day, f"{root}/datePart={part}")
        if bad:
            out.append(bad)
    return out
