"""Seeded inputs of the benchmark.

`tables(out_dir, sf, seed)` writes the ten tables the query catalogue reads
(TPC-H-style star schema plus events, documents and embeddings), with the
schemas, row counts per scale factor and value domains of the test tables
in TESTDATA.md; the values come from `seed`. `churn_plan(...)` writes the base load, the write
batches and the operation sequence of `snapshot_churn`.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, start, n_days, n):
    d0 = np.datetime64(start, "D") + rng.integers(0, n_days + 1, n)
    return d0.astype("datetime64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), Path(out_dir) / f"{name}.parquet")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out_dir, sf, seed):
    """Write the ten catalogue tables at scale factor `sf`; returns
    {table: rows}."""
    rng = np.random.default_rng(seed)
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_cust // 10, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return {"region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
            "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}


# ------------------------------------------------------------ snapshot_churn

WRITE_OPS = ("upsert", "append", "delete", "update")


def _churn_order():
    """One run's operations, in one fixed shuffled order: every seed runs the
    same sequence of kinds of work (the table's evolution, and so each
    operation's cost, depends on that order); the seed draws the batches and
    ranges. Reads that look back in time move after the first write;
    compaction and vacuum come once most writes have landed."""
    kinds = (["upsert"] * 4 + ["append"] * 2 + ["delete"] * 2 + ["update"] * 2 +
             ["read_range"] * 4 + ["read_at"] * 2 + ["changes"] * 2)
    order = list(np.random.default_rng(0).permutation(kinds))
    first_write = next(i for i, k in enumerate(order) if k in WRITE_OPS)
    early = [k for k in order[:first_write] if k in ("read_at", "changes")]
    rest = [k for k in order[:first_write] if k not in early]
    order = rest + [order[first_write]] + early + order[first_write + 1:]
    return order[:12] + ["compact"] + order[12:15] + ["vacuum"] + order[15:]


CHURN_ORDER = _churn_order()


def _churn_rows(rng, ids, years, ver):
    n = len(ids)
    days = rng.integers(0, 365, n).astype("timedelta64[D]")
    ship = (np.array([f"{y}-01-01" for y in years], dtype="datetime64[D]") + days)
    return {
        "row_id": np.asarray(ids, dtype=np.int64),
        "l_orderkey": rng.integers(0, 150_000, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": ship.astype("datetime64[us]"),
        "yr": np.asarray(years).astype(str),
        "ver": np.full(n, ver, dtype=np.int64),
        "del": np.zeros(n, dtype=bool),
    }


def churn_plan(work, lineitem_path, seed, keep, range_files=16, batch=1000,
               window=4000):
    """Write the snapshot_churn base table, batches and `plan.tsv` under
    `work`. The base is the generated lineitem with a unique `row_id`, the
    partition column `yr` and the merge columns `ver` and `del`."""
    rng = np.random.default_rng(seed + 1)
    work = Path(work)
    (work / "batches").mkdir(parents=True, exist_ok=True)
    li = pq.read_table(lineitem_path)
    n = li.num_rows
    ship = li.column("l_shipdate").to_numpy()
    years = ship.astype("datetime64[Y]").astype(int) + 1970
    base = li.select(["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                      "l_extendedprice", "l_discount", "l_returnflag",
                      "l_linestatus", "l_shipdate"])
    base = base.add_column(0, "row_id", pa.array(np.arange(n, dtype=np.int64)))
    base = base.append_column("yr", pa.array(years.astype(str)))
    base = base.append_column("ver", pa.array(np.zeros(n, dtype=np.int64)))
    base = base.append_column("del", pa.array(np.zeros(n, dtype=bool)))
    pq.write_table(base, work / "base.parquet")

    year_of = years.copy()          # row_id -> partition year, 0 once deleted
    commits = 1
    lines = [f"base\t{work / 'base.parquet'}\t{range_files}"]
    for i, kind in enumerate(CHURN_ORDER):
        lo = int(rng.integers(0, len(year_of) - window))
        path = work / "batches" / f"op{i}.parquet"
        if kind == "upsert":
            live = np.flatnonzero(year_of[lo:lo + window]) + lo
            ids = rng.choice(live, min(batch, len(live)), replace=False)
            cols = _churn_rows(rng, ids, year_of[ids], (i + 1) * 1_000_000)
            cols["del"] = rng.random(len(ids)) < 0.1
            pq.write_table(pa.table(cols), path)
            year_of[ids[cols["del"]]] = 0
            lines.append(f"upsert\t{path}")
        elif kind == "append":
            ids = np.arange(len(year_of), len(year_of) + batch)
            yrs = rng.integers(1995, 2002, batch)
            pq.write_table(pa.table(_churn_rows(rng, ids, yrs, 0)), path)
            year_of = np.concatenate([year_of, yrs])
            lines.append(f"append\t{path}")
        elif kind in ("delete", "update"):
            hi = lo + window // (8 if kind == "delete" else 4)
            if kind == "delete":
                year_of[lo:hi + 1] = 0
            lines.append(f"{kind}\t{lo}\t{hi}")
        elif kind == "read_range":
            lines.append(f"read_range\t{lo}\t{lo + window}")
        elif kind in ("read_at", "changes"):
            back = min(keep, commits) - 1  # as far back as retention allows
            lines.append(f"{kind}\t{back}" +
                         (f"\t{lo}\t{lo + window}" if kind == "read_at" else ""))
        elif kind == "compact":
            lines.append(f"compact\t{4 << 20}")
        else:
            lines.append(f"vacuum\t{keep}")
        commits += kind in WRITE_OPS
    (work / "plan.tsv").write_text("\n".join(lines) + "\n")
