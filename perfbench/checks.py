"""Output checks. Expected values come from DuckDB over the same fixture
files the engine read; observed values are read back from what the engine
wrote. Row sets are compared as multisets through a fingerprint
(row count and the sum of per-row 64-bit hashes over typed columns)."""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from compare import TABLES, canon, dtype_class, normalize  # noqa: E402

LINEITEM_TYPES = [
    ("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"), ("l_suppkey", "BIGINT"),
    ("l_linenumber", "INTEGER"), ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"), ("l_returnflag", "VARCHAR"),
    ("l_linestatus", "VARCHAR"), ("l_shipdate", "TIMESTAMP")]
EVENTS_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 4")
    return con


def _q(path):
    return "'" + path.replace("'", "''") + "'"


def _typed(cols_types):
    """Select list casting every column to its expected type (timestamps
    written with an offset are read as instants, then taken in UTC)."""
    out = []
    for c, t in cols_types:
        if t == "TIMESTAMP":
            out.append(f"CAST(CAST({c} AS TIMESTAMPTZ) AS TIMESTAMP) AS {c}")
        else:
            out.append(f"CAST({c} AS {t}) AS {c}")
    return ", ".join(out)


def _fp(con, relation_sql, cols):
    """(rows, hash sum) of a relation: equal fingerprints mean equal
    multisets, up to a 64-bit hash collision."""
    h = ", ".join(cols)
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(hash({h})::HUGEINT), 0) FROM ({relation_sql})"
    ).fetchone()
    return int(n), int(s)


def lineitem_rel(base):
    return f"SELECT * FROM read_parquet({_q(os.path.join(base, 'lineitem.parquet'))})"


def tsv_lineitem_rel(target_dir):
    files = os.path.join(target_dir, "*.csv")
    return (f"SELECT {_typed(LINEITEM_TYPES)} FROM read_csv({_q(files)}, delim='\t', "
            "header=true, all_varchar=true, quote='\"')")


def parquet_lineitem_rel(target_dir):
    return (f"SELECT {_typed(LINEITEM_TYPES)} FROM "
            f"read_parquet({_q(os.path.join(target_dir, '*.parquet'))})")


LI_COLS = [c for c, _ in LINEITEM_TYPES]


class BulkLoad:
    """Every operation copies all of lineitem into an empty TSV target."""

    def __init__(self, con, base):
        self.con = con
        self.fp = _fp(con, lineitem_rel(base), LI_COLS)
        self.n = self.fp[0]

    def check(self, op):
        problems = []
        stats = (op.get("read"), op.get("filtered"), op.get("written"))
        if stats != (self.n, 0, self.n):
            problems.append(f"RunStats {stats} != {(self.n, 0, self.n)}")
        got = _fp(self.con, tsv_lineitem_rel(op["target"]), LI_COLS)
        if got != self.fp:
            problems.append(f"target fingerprint {got} != {self.fp}")
        return problems


class IncrementalRerun:
    """Each operation starts from the seeded target; the rows it must add
    are the source rows with no equal row in that target."""

    def __init__(self, con, base, seeded_file):
        self.con = con
        src = lineitem_rel(base)
        seeded = f"SELECT {_typed(LINEITEM_TYPES)} FROM read_parquet({_q(seeded_file)})"
        using = ", ".join(LI_COLS)
        missing = f"SELECT s.* FROM ({src}) s ANTI JOIN ({seeded}) t USING ({using})"
        self.read = _fp(con, src, LI_COLS)[0]
        m = _fp(con, missing, LI_COLS)
        s = _fp(con, seeded, LI_COLS)
        self.written = m[0]
        self.fp = (m[0] + s[0], m[1] + s[1])

    def check(self, op):
        problems = []
        want = (self.read, self.read - self.written, self.written)
        stats = (op.get("read"), op.get("filtered"), op.get("written"))
        if stats != want:
            problems.append(f"RunStats {stats} != {want}")
        got = _fp(self.con, parquet_lineitem_rel(op["target"]), LI_COLS)
        if got != self.fp:
            problems.append(f"target fingerprint {got} != {self.fp}")
        return problems


class CronTicks:
    """Tick i reads window i; it writes the rows of window i that no earlier
    window covered. The target must end as the distinct rows of the union
    window, with no duplicates."""

    def __init__(self, con, base):
        self.con = con
        self.events = f"read_parquet({_q(os.path.join(base, 'events.parquet'))})"

    def _count(self, lo, hi, after=None):
        sql = (f"SELECT count(*) FROM {self.events} WHERE CAST(ts AS TIMESTAMP) "
               f"BETWEEN TIMESTAMP {lo} AND TIMESTAMP {hi}")
        if after is not None:
            sql += f" AND CAST(ts AS TIMESTAMP) > TIMESTAMP {after}"
        return self.con.execute(sql).fetchone()[0]

    def tick_problems(self, ticks):
        """Problems per tick, in tick order (ticks sorted by index)."""
        out = []
        prev_to = None
        for t in ticks:
            lo, hi = t["from"].removeprefix("timestamp"), t["to"].removeprefix("timestamp")
            read = self._count(lo, hi)
            new = read if prev_to is None else self._count(lo, hi, after=prev_to)
            want = (read, read - new, new)
            stats = (t.get("read"), t.get("filtered"), t.get("written"))
            out.append([] if stats == want else [f"tick {t['tick']}: RunStats {stats} != {want}"])
            prev_to = hi
        return out

    def target_problems(self, target_dir, ticks):
        lo = ticks[0]["from"].removeprefix("timestamp")
        hi = ticks[-1]["to"].removeprefix("timestamp")
        sel = ("SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
               "value, props FROM ")
        want_rel = (f"SELECT DISTINCT * FROM ({sel}{self.events}) WHERE ts BETWEEN "
                    f"TIMESTAMP {lo} AND TIMESTAMP {hi}")
        got_rel = sel + f"read_parquet({_q(os.path.join(target_dir, '*.parquet'))})"
        want = _fp(self.con, want_rel, EVENTS_COLS)
        got = _fp(self.con, got_rel, EVENTS_COLS)
        dups = self.con.execute(
            f"SELECT count(*) - (SELECT count(*) FROM (SELECT DISTINCT * FROM ({got_rel})))"
            f" FROM ({got_rel})").fetchone()[0]
        written = sum(t.get("written") or 0 for t in ticks)
        problems = []
        if got != want:
            problems.append(f"target fingerprint {got} != distinct union window {want}")
        if dups:
            problems.append(f"target holds {dups} duplicate rows")
        if written != want[0]:
            problems.append(f"sum rowsWritten {written} != union window size {want[0]}")
        return problems


# ---- query results, under the normalization of tools/compare.py ---------

class QueryMix:
    """Oracle results depend only on the SQL text and the fixture files, so
    each is computed once per checkout and kept (pickled, dtypes intact)
    under `cache_dir`."""

    def __init__(self, con, base, cache_dir):
        self.con = con
        self.base = base
        self.cache_dir = cache_dir
        for t in TABLES:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                        f"read_parquet({_q(os.path.join(base, t + '.parquet'))})")

    def compare(self, sql, out_dir):
        """Problems comparing the oracle SQL's result with the parquet files
        under `out_dir`."""
        if sql is None:
            return ["no oracle SQL"]
        if not glob.glob(os.path.join(out_dir, "*.parquet")):
            return ["no output files"]
        dk = self._oracle(sql)
        sp = normalize(self.con.execute(
            f"SELECT * FROM read_parquet({_q(os.path.join(out_dir, '*.parquet'))})").df())
        if list(dk.columns) != list(sp.columns):
            return [f"schema: oracle={list(dk.columns)} engine={list(sp.columns)}"]
        if len(dk) != len(sp):
            return [f"rows: oracle={len(dk)} engine={len(sp)}"]
        for c in dk.columns:
            dc, sc = dtype_class(dk[c].dtype), dtype_class(sp[c].dtype)
            if dc != sc:
                return [f"col {c} dtype: oracle={dk[c].dtype} engine={sp[c].dtype}"]
            for i, (x, y) in enumerate(zip(dk[c].tolist(), sp[c].tolist())):
                if canon(x) != canon(y):
                    return [f"col {c} row {i}: oracle={canon(x)} engine={canon(y)}"]
        return []

    def _oracle(self, sql):
        import hashlib
        import pandas as pd
        key = hashlib.sha256((os.path.basename(self.base) + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        dk = normalize(self.con.execute(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        dk.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return dk


def plant_extra_row(con, src_dir, planted_dir, pattern, fmt):
    """A copy of a target (links to its files) plus one extra file holding a
    duplicate of one of its rows: a wrong target the checks must reject."""
    os.makedirs(planted_dir, exist_ok=True)
    for f in glob.glob(os.path.join(src_dir, pattern)):
        os.symlink(os.path.abspath(f), os.path.join(planted_dir, os.path.basename(f)))
    src = os.path.join(src_dir, pattern)
    if fmt == "csv":
        con.execute(f"COPY (SELECT * FROM read_csv({_q(src)}, delim='\t', header=true, "
                    f"all_varchar=true) LIMIT 1) TO {_q(os.path.join(planted_dir, 'x-planted.csv'))} "
                    "(HEADER, DELIMITER '\t')")
    else:
        con.execute(f"COPY (SELECT * FROM read_parquet({_q(src)}) LIMIT 1) TO "
                    f"{_q(os.path.join(planted_dir, 'x-planted.parquet'))} (FORMAT PARQUET)")
