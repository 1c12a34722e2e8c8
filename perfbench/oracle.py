"""Checks query outputs against their DuckDB oracle SQL over the same parquet
tables, with the normalisation of tools/oracle_check.py: cells are compared
as strings (floats to 9 significant digits), columns sorted by name, rows
sorted.

One change to the oracle SQL: its list-form `quantile_cont(x, [p, ...])`,
which gives the bin edges of the drift queries, is computed exactly. DuckDB
interpolates quantiles in floating point, so a quantile that falls between
two equal values can come out one ulp off them: over twenty copies of 59.24,
`quantile_cont(x, 0.7)` is 59.24000000000001. The drift queries bin by
`value > edge`, so such an edge moves every row equal to it into the next
bin. Where the unchanged SQL gives another answer, the check keeps a note.
"""
import glob
import os
import re
import sys
from fractions import Fraction
from math import ceil, floor

import duckdb
from duckdb.typing import DOUBLE

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from oracle_check import norm  # noqa: E402

# Queries with no SQL twin get a row-count check instead: both flag the
# `contamination` / `nu` = 0.1 share of the non-null events as outliers.
ROW_SHARE = {"q55_iforest_outliers": (0.05, 0.15),
             "q57_ocsvm_outliers": (0.02, 0.20)}


LIST_QUANTILES = re.compile(r"quantile_cont\((\w+),\s*\[")


def exact_quantiles(values, ps):
    """quantile_cont's linear interpolation, in exact arithmetic, rounded
    once to the nearest double."""
    xs = sorted(Fraction(v) for v in values if v is not None)
    if not xs:
        return None
    out = []
    for p in ps:
        h = (len(xs) - 1) * Fraction(repr(p))
        lo, hi = xs[floor(h)], xs[ceil(h)]
        out.append(float(lo + (h - floor(h)) * (hi - lo)))
    return out


class Oracle:
    def __init__(self, data_dir, oracle_sql):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        # every table the directory holds (the sf0.1 one holds only events)
        for f in sorted(glob.glob(f"{data_dir}/*.parquet")):
            t = os.path.basename(f)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
        doubles = self.con.list_type(DOUBLE)
        self.con.create_function("exact_quantiles", exact_quantiles,
                                 [doubles, doubles], doubles, type="native",
                                 null_handling="special")
        self.sql = oracle_sql
        self.expected = {}
        # query -> what the unchanged oracle SQL answers, where it differs
        self.notes = {}

    def _answer(self, sql):
        d = self.con.execute(sql)
        cols = [c[0] for c in d.description]
        return sorted(cols), norm(d.fetchall(), cols)

    def _expected(self, name):
        if name not in self.expected:
            if name in self.sql:
                sql = self.sql[name]
                exact = LIST_QUANTILES.sub(r"exact_quantiles(list(\1), [", sql)
                self.expected[name] = self._answer(exact)
                if exact != sql:
                    raw = self._answer(sql)
                    if raw != self.expected[name]:
                        self.notes[name] = (
                            "the unchanged oracle SQL, with DuckDB's quantile_cont, "
                            f"answers {sorted(set(raw[1]) - set(self.expected[name][1]))[:2]}")
            else:
                n = self.con.execute(
                    "SELECT count(*) FROM events WHERE value IS NOT NULL").fetchone()[0]
                lo, hi = ROW_SHARE[name]
                self.expected[name] = (lo * n, hi * n)
        return self.expected[name]

    def check(self, name, out_dir):
        """Returns None when the output matches, else what differs."""
        files = glob.glob(f"{out_dir}/*.parquet")
        if not files:
            return "no output files"
        s = self.con.execute(f"SELECT * FROM read_parquet({files})")
        scols = [c[0] for c in s.description]
        srows = s.fetchall()
        if name not in self.sql:
            if name not in ROW_SHARE:
                return "no oracle and no row-count rule"
            lo, hi = self._expected(name)
            return None if lo <= len(srows) <= hi else \
                f"{len(srows)} rows, expected {lo:.0f}..{hi:.0f}"
        dcols, drows = self._expected(name)
        if sorted(scols) != dcols:
            return f"columns spark={sorted(scols)} duckdb={dcols}"
        a = norm(srows, scols)
        if a == drows:
            return None
        only_s = sorted(set(a) - set(drows))[:2]
        only_d = sorted(set(drows) - set(a))[:2]
        return f"rows spark={len(a)} duckdb={len(drows)}; only spark {only_s}; only duckdb {only_d}"
