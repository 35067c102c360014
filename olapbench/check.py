"""Output check for the benchmark: DuckDB reference results, cached by SQL
text and input, and the comparison rules of scripts/check_oracle.py.

compare() follows check_oracle.py rule for rule: columns sorted by name
must match; the dtype class (int / float / bool / datetime) of every
column must match; rows are sorted on every non-array column; floats
match within 1e-9 relative (1e-9 absolute below 1), everything else
exactly. A row that differs is a mismatch; nothing is dropped.
"""
import glob
import hashlib
import math
import os
import pickle

import duckdb
import numpy as np

SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]


def sha256_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def sf_connection(sf):
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    for t in SF_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    return con


class References:
    """Oracle results for SQL over fixed inputs, computed once in DuckDB
    and kept on disk under the key sha256(sql, input fingerprint)."""

    def __init__(self, cache_dir, connect, fingerprint):
        self.cache_dir, self.connect, self.fingerprint = cache_dir, connect, fingerprint
        self.con = None
        os.makedirs(cache_dir, exist_ok=True)

    def get(self, sql):
        key = hashlib.sha256((sql + "\0" + self.fingerprint).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        if self.con is None:
            self.con = self.connect()
        df = self.con.execute(sql).fetchdf()
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump(df, f)
        os.replace(tmp, path)
        return df


def read_output(con, path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def _kind_class(k):
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "datetime", "m": "timedelta"}.get(k, "other")


def _is_array(v):
    return isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray"


def compare(got, exp, presorted=False, allow=None):
    """(ok, detail) for an engine result against its reference.
    `presorted`: both sides already come ordered by every column in name
    order (see sorted_rows), so the row sort is skipped. `allow` maps a
    column to the absolute difference a recorded known mismatch may show
    in it (see known_mismatch); every other column keeps the rules."""
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return False, f"columns {gcols} vs oracle {ecols}"
    skew = [(c, got[c].dtype, exp[c].dtype) for c in gcols
            if _kind_class(got[c].dtype.kind) != _kind_class(exp[c].dtype.kind)
            and "other" not in (_kind_class(got[c].dtype.kind), _kind_class(exp[c].dtype.kind))]
    if skew:
        c, gk, ek = skew[0]
        return False, f"dtype skew col {c}: engine {gk} vs oracle {ek}"
    if presorted:
        g, e = got[gcols].reset_index(drop=True), exp[ecols].reset_index(drop=True)
    else:
        keys = [c for c in gcols if got[c].dtype != object or not got[c].map(_is_array).any()] or gcols
        g, e = _sort_rows(got[gcols], exp[ecols], keys)
    if len(g) != len(e):
        return False, f"rowcount {len(g)} vs oracle {len(e)}"
    for c in gcols:
        # vectorised where the values agree; the per-value rule decides
        # every position the fast path does not settle
        a, b = g[c].to_numpy(), e[c].to_numpy()
        if allow and c in allow:
            try:
                af, bf = a.astype(float), b.astype(float)
            except (TypeError, ValueError):
                return False, f"col {c}: not numeric, so no difference is allowed"
            with np.errstate(invalid="ignore"):
                near = (np.abs(af - bf) <= allow[c] + 1e-12) | (np.isnan(af) & np.isnan(bf))
            bad = np.flatnonzero(~near)
            if len(bad):
                i = bad[0]
                return False, f"col {c} row {i}: got {g[c].iloc[i]!r} oracle {e[c].iloc[i]!r} beyond {allow[c]}"
            continue
        try:
            if a.dtype.kind == "f" and b.dtype.kind == "f":
                with np.errstate(invalid="ignore"):
                    same = (a == b) | (np.isnan(a) & np.isnan(b)) | \
                        (np.abs(a - b) <= 1e-9 * np.maximum(1.0, np.maximum(np.abs(a), np.abs(b))))
            else:
                same = np.asarray(a == b, dtype=bool)
                if same.shape != a.shape:
                    raise TypeError
        except (TypeError, ValueError):
            same = np.zeros(len(a), dtype=bool)
        for i in np.flatnonzero(~same):
            ok = _same_value(g[c].iloc[i:i + 1].tolist()[0], e[c].iloc[i:i + 1].tolist()[0])
            if not ok:
                return False, f"col {c} row {i}: got {g[c].iloc[i]!r} oracle {e[c].iloc[i]!r}"
    return True, f"{len(g)} rows"


def known_mismatch(got, exp, known):
    """(ok, detail): whether a result that failed compare() fails only in
    the way recorded for it in workloads.json: the same columns and row
    count, every column but `known["column"]` equal under the rules, and
    that column off by at most `known["max_abs_diff"]` (plus 1e-12 for the
    double conversion)."""
    return compare(got, exp, allow={known["column"]: known["max_abs_diff"]})


def _sort_rows(g, e, keys):
    try:
        return (g.sort_values(keys, kind="mergesort").reset_index(drop=True),
                e.sort_values(keys, kind="mergesort").reset_index(drop=True))
    except TypeError:
        return (g.iloc[g.astype(str).apply(tuple, axis=1).argsort()].reset_index(drop=True),
                e.iloc[e.astype(str).apply(tuple, axis=1).argsort()].reset_index(drop=True))


def sorted_rows(con, relation):
    """All rows of a DuckDB relation (a table, view or read_parquet call)
    with columns in name order, ordered by every column: the order
    compare() would sort into, for results with no array column."""
    cols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall())
    sel = ", ".join(f'"{c}"' for c in cols)
    return con.execute(f"SELECT {sel} FROM {relation} ORDER BY {sel}").fetchdf()


def _same_value(a, b):
    """check_oracle.py's cell rule."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b or \
            abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if _is_array(a):
        return _is_array(b) and list(a) == list(b)
    return a == b or (a is None and b is None) or str(a) == str(b)


def plant_wrong_row(df):
    """A copy of `df` with one cell of its first row changed (or, with no
    number or string to change, the first row doubled): the check must
    reject it."""
    bad = df.copy()
    for c in sorted(bad.columns):
        v = bad[c].iloc[0]
        if isinstance(v, bool) or type(v).__name__ == "bool_":
            bad.loc[0, c] = not v
        elif isinstance(v, (int, float)) or type(v).__name__.startswith(("int", "float")):
            if isinstance(v, float) and math.isnan(v):
                continue
            bad.loc[0, c] = v + 1
        elif isinstance(v, str):
            bad.loc[0, c] = v + "x"
        else:
            continue
        return bad
    return bad.iloc[[0] + list(range(len(bad)))].reset_index(drop=True)
