"""Output checks of the benchmark, run after the timed region.

Query results are compared with their DuckDB oracle the way the repo's
oracle gate compares them: columns sorted by name, rows sorted, floats by
`repr`. `snapshot_churn` reads, change feeds and final version are compared
with an independent replay of the same seeded plan. Each check returns None
when the output is right and a one-line reason when it is not.
"""
import math
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return sorted(tuple(_cell(v) for v in row) for row in df.itertuples(index=False))


class Oracle:
    """DuckDB over the generated tables."""

    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def check(self, out_dir, sql):
        if sql is None:
            return "no oracle to check against"
        got = self.con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df()
        want = self.con.execute(sql).df()
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} vs {len(want)}"
        if _rows(got) != _rows(want):
            return "values differ"
        return None


# ------------------------------------------------------------ snapshot replay

KEY = "row_id"


def _frame(path):
    """A parquet file or a directory of them, timestamps as epoch µs."""
    src = f"{path}/*.parquet" if Path(path).is_dir() else str(path)
    df = duckdb.sql(f"SELECT * FROM read_parquet('{src}')").df()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
    return df


def _keyed(df):
    return df.set_index(KEY, drop=False).rename_axis(None)


def _same(got, want, cols):
    if sorted(got.columns) != sorted(cols):
        return f"columns {sorted(got.columns)} vs {sorted(cols)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        if not np.array_equal(g[c].to_numpy(), w[c].to_numpy()):
            return f"values differ in {c}"
    return None


class Replay:
    """The table's content version by version, from the plan alone: each
    write's semantics re-implemented with pandas. Keeps the versions a
    time-travel read or change feed can still reach."""

    def __init__(self, base_path, keep):
        self.state = _keyed(_frame(base_path)).sort_index()
        self.cols = list(self.state.columns)
        self.keep = keep
        self.versions = {1: self.state}
        self.touched = {}  # version -> keys its commit may have changed

    def apply(self, op, args, version, based_on):
        s = self.state
        touched = pd.Index([], dtype="int64")
        if op == "upsert":
            # per key the highest `ver` wins, a tombstone on a tie; winning
            # tombstones delete
            b = _keyed(_frame(args[0]))
            touched = b.index
            cand = pd.concat([s[s.index.isin(touched)], b])
            cand = cand.sort_values([KEY, "ver", "del"], ascending=[True, False, False])
            win = cand.drop_duplicates(KEY)
            s = pd.concat([s[~s.index.isin(touched)], win[~win["del"]]]).sort_index()
        elif op == "append":
            b = _keyed(_frame(args[0]))
            touched = b.index
            s = pd.concat([s, b[self.cols]]).sort_index()
        elif op in ("delete", "update"):
            hit = (s[KEY] >= int(args[0])) & (s[KEY] <= int(args[1]))
            touched = s.index[hit]
            if op == "delete":
                s = s[~hit]
            else:
                s = s.copy()
                s.loc[hit, "ver"] += 1
                s.loc[hit, "l_linestatus"] = "U"
        if version > based_on:
            self.touched[version] = touched
        self.state = s
        self.versions[version] = s
        for v in [v for v in self.versions if v < version - self.keep]:
            del self.versions[v]

    def check_read(self, op, args, rec):
        got = _frame(rec["out"])
        if op == "changes":
            return self._check_changes(got, rec["from_version"], rec["based_on"])
        if op == "read_range":
            lo, hi, s = int(args[0]), int(args[1]), self.versions[rec["based_on"]]
        else:
            lo, hi, s = int(args[1]), int(args[2]), self.versions[rec["read_version"]]
        return _same(got, s[(s[KEY] >= lo) & (s[KEY] <= hi)], self.cols)

    def _check_changes(self, got, frm, to):
        """One row per changed key and version step: the new image for an
        insert or update, the old one for a delete."""
        parts = []
        for v in range(frm + 1, to + 1):
            keys = self.touched.get(v, pd.Index([], dtype="int64"))
            old, new = self.versions[v - 1], self.versions[v]
            o, n = old[old.index.isin(keys)], new[new.index.isin(keys)]
            j = o.join(n, how="outer", lsuffix="_o", rsuffix="_n")
            ins = j[KEY + "_o"].isna().to_numpy()
            dele = j[KEY + "_n"].isna().to_numpy()
            upd = np.zeros(len(j), dtype=bool)
            for c in self.cols:
                upd |= j[c + "_o"].to_numpy() != j[c + "_n"].to_numpy()
            img = pd.DataFrame({c: np.where(dele, j[c + "_o"], j[c + "_n"])
                                for c in self.cols})
            img["change_type"] = np.select([ins, dele], ["insert", "delete"], "update")
            img["change_version"] = v
            parts.append(img[ins | dele | upd])
        want = pd.concat(parts).astype(self.state.dtypes.to_dict())
        want["change_version"] = want["change_version"].astype("int32")
        got = got.astype({"change_version": "int32"})
        return _same(got, want, ["change_type"] + self.cols + ["change_version"])

    def check_final(self, path):
        return _same(_frame(path), self.state, self.cols)
