"""Seeded input generator for the benchmark workloads.

Every value comes from ``numpy.random.RandomState(seed)``, so one seed gives
byte-identical files. Nothing is downloaded and nothing is written outside
the directory handed to ``generate``.

Layout under that directory:

* ``tables/<name>.parquet`` - TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings``, with the column names and types of the
  repo's test data; the ``registry_mix`` input.
* ``scan_sampled/*.tsv`` - lineitem and orders, each several times the
  sampled workload's ``max_rows``, plus two hostile files: ragged rows, and a UTF-8
  BOM with CRLF line ends, quoted delimiters and an all-empty column. An
  empty file is left out: the CLI reports it with ``n_rows_checked = -1``
  and one unnamed column. A header-only file is left out for run length
  (each file costs ~25 Spark jobs); the CLI profiles it correctly.
* ``manifest.json`` - per scan file: bytes, line count, quarantined rows and
  per-column ground truth (expected type, rows, missing, empty, distinct and
  the smallest count of any one value).

Ground truth follows the profile's counting rules: for string columns NA is
missing, "" is empty and distinct counts the rest; typed (double/timestamp)
columns fold "" into missing and report no empties.

Run ``python3 perfbench/gen.py DIR --seed N [--workload W]`` to write a set
by hand; ``PERFBENCH_TINY=1`` shrinks the registry tables for the self-tests.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data table column row value key join group merge sort filter "
    "scan hash batch stream window query spark order line part customer "
    "agg small big fast slow vector"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "hot", "large", "new", "old", "red", "small", "cold"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget", "nut"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Row counts. ``tables`` feed the registry queries; the scan folder gets its
# own fact tables. Its two big tables hold 8x the sampled workload's
# max_rows (1000), so the seeded Bernoulli fraction ``exact_random_sample``
# picks is about 0.3 and the sample is a real one (checked by the
# self-tests). A table of 1-3.5x max_rows gets a fraction of ~1, which
# reduces the sample to a ``limit``.
SIZES = {
    "tables": {"supplier": 10, "part": 200, "customer": 150, "orders": 1500,
               "lineitem": 6000, "events": 1000, "documents": 500,
               "embeddings": 500},
    "scan_sampled": {"supplier": 20, "part": 400, "customer": 300,
                     "orders": 8000, "lineitem": 8000, "events": 1000},
}
# PERFBENCH_TINY=1: the self-tests' small registry tables; the scan folder
# keeps its size so that its sample stays a real one
TINY_TABLES = {"supplier": 10, "part": 50, "customer": 50, "orders": 150,
               "lineitem": 500, "events": 100, "documents": 100,
               "embeddings": 100}
EPOCH_1995 = dt.date(1995, 1, 1)
EVENTS_T0 = dt.datetime(2024, 1, 1)


def _day(offsets: np.ndarray) -> list[dt.date]:
    return [EPOCH_1995 + dt.timedelta(days=int(d)) for d in offsets]


def _tpch(rs: np.random.RandomState, n: dict[str, int]) -> dict[str, dict]:
    """Columns of the star schema as numpy arrays / lists, keyed by table."""
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": list(REGIONS)}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rs.randint(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rs.uniform(-999, 9999, ns), 2),
    }
    npart = n["part"]
    t["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rs.randint(0, 8, npart), rs.randint(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rs.randint(1, 26, npart)],
        "p_type": [P_TYPES[i] for i in rs.randint(0, 6, npart)],
        "p_size": rs.randint(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    }
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rs.randint(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rs.uniform(-999, 9999, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rs.randint(0, 5, nc)],
    }
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rs.randint(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rs.randint(0, 3, no)],
        "o_totalprice": np.round(rs.uniform(1000, 500000, no), 2),
        "o_orderdate": _day(rs.randint(0, 2404, no)),
        "o_orderpriority": [PRIORITIES[i] for i in rs.randint(0, 5, no)],
    }
    nl = n["lineitem"]
    qty = rs.randint(1, 51, nl).astype(np.float64)
    part = rs.randint(0, npart, nl).astype(np.int64)
    t["lineitem"] = {
        "l_orderkey": rs.randint(0, no, nl).astype(np.int64),
        "l_partkey": part,
        "l_suppkey": rs.randint(0, ns, nl).astype(np.int64),
        "l_linenumber": rs.randint(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * t["part"]["p_retailprice"][part]
                                    * rs.uniform(0.9, 1.1, nl), 2),
        "l_discount": rs.randint(0, 11, nl) / 100.0,
        "l_tax": rs.randint(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rs.randint(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rs.randint(0, 2, nl)],
        "l_shipdate": _day(rs.randint(1, 2499, nl)),
    }
    ne = n["events"]
    gaps = rs.exponential(120.0, ne)
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": [EVENTS_T0 + dt.timedelta(microseconds=int(s * 1e6))
               for s in np.cumsum(gaps)],
        "user_id": rs.randint(0, max(ne // 60, 5), ne).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rs.randint(0, 5, ne)],
        "value": np.maximum(np.round(rs.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rs.randint(0, 100, ne)],
    }
    return t


def _corpus(rs: np.random.RandomState, n_doc: int, n_emb: int) -> dict[str, dict]:
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 8 and rs.rand() < 0.05:
            # near-duplicate of an earlier document (the dedup queries' signal)
            texts.append(texts[rs.randint(0, i)] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in
                                  rs.randint(0, len(WORDS), rs.randint(8, 90))))
    docs = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rs.choice(5, n_doc, p=[.44, .14, .14, .14, .14])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    labels = rs.randint(0, 10, n_emb)
    centers = rs.normal(0, 1, (10, 64))
    vecs = centers[labels] + rs.normal(0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = {"vec_id": np.arange(n_emb, dtype=np.int64),
           "embedding": [v.tolist() for v in vecs],
           "label": labels.astype(np.int32)}
    return {"documents": docs, "embeddings": emb}


def _arrow(cols: dict) -> pa.Table:
    arrays = {}
    for name, v in cols.items():
        if name == "embedding":
            arrays[name] = pa.array(v, type=pa.list_(pa.float32()))
        elif isinstance(v, list) and v and isinstance(v[0], (dt.date, dt.datetime)):
            arrays[name] = pa.array([
                x if isinstance(x, dt.datetime) else
                dt.datetime(x.year, x.month, x.day) for x in v
            ], type=pa.timestamp("us"))
        else:
            arrays[name] = pa.array(v)
    return pa.table(arrays)


# ---------------------------------------------------------------- TSV side

def _render(v) -> str:
    if v is None:
        return "NA"
    if isinstance(v, (float, np.floating)):
        return f"{float(v):.2f}"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def _kind(v) -> str:
    if isinstance(v, (int, float, np.integer, np.floating)):
        return "double"
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        return "timestamp"
    return "string"  # microsecond timestamps match no inference pattern


def _column_truth(cells: list[str], kind: str) -> dict:
    na = sum(1 for c in cells if c == "NA")
    empty = sum(1 for c in cells if c == "")
    counts: dict[str, int] = {}
    for c in cells:
        if c not in ("NA", ""):
            counts[c] = counts.get(c, 0) + 1
    if kind != "string" and not counts:
        kind = "string"  # nothing to type: the column stays string
    typed = kind != "string"
    return {
        "type": kind,
        "rows": len(cells),
        "missing": na + empty if typed else na,
        "empty": 0 if typed else empty,
        "distinct": len(counts),
        "min_value_count": min(counts.values()) if counts else 0,
    }


class _Folder:
    """Writes TSV files into one folder and collects their manifest."""

    def __init__(self, path: str):
        self.path = path
        self.files: dict[str, dict] = {}
        os.makedirs(path, exist_ok=True)

    def write(self, name: str, header: list[str], rows: list[list[str]],
              kinds: list[str], *, eol: str = "\n", bom: bool = False,
              raw_lines: list[tuple[int, str]] = ()) -> None:
        """``rows`` are the logical cells; ``raw_lines`` are extra physical
        lines (index, text) spliced in that the quarantine path removes."""
        body = ["\t".join(_quote(c) for c in r) for r in rows]
        for idx, line in sorted(raw_lines):
            body.insert(idx, line)
        lines = ["\t".join(header)] + body
        data = (eol.join(lines) + eol).encode("utf-8")
        if bom:
            data = b"\xef\xbb\xbf" + data
        fp = os.path.join(self.path, name)
        with open(fp, "wb") as fh:
            fh.write(data)
        columns = {
            h: _column_truth([r[j] for r in rows], kinds[j])
            for j, h in enumerate(header)
        }
        self.files[name] = {
            "bytes": len(data),
            "lines": len(lines),
            "quarantined": len(raw_lines),
            "data_rows": len(rows),
            "all_empty_columns": sum(
                1 for c in columns.values() if c["distinct"] == 0
            ),
            "columns": columns,
        }

    def write_table(self, name: str, cols: dict, na_rate: dict | None = None,
                    rs: np.random.RandomState | None = None) -> None:
        header = list(cols)
        n = len(next(iter(cols.values())))
        kinds = [_kind(cols[h][0]) for h in header]
        cells = [[_render(v) for v in cols[h]] for h in header]
        for h, (p_na, p_empty) in (na_rate or {}).items():
            j = header.index(h)
            u = rs.rand(n)
            cells[j] = ["NA" if x < p_na else "" if x < p_na + p_empty else c
                        for x, c in zip(u, cells[j])]
        self.write(name, header, [list(r) for r in zip(*cells)], kinds)


def _quote(cell: str) -> str:
    if any(ch in cell for ch in '\t"\n'):
        return '"' + cell.replace('"', '""') + '"'
    return cell


def _hostile(folder: _Folder, rs: np.random.RandomState) -> None:
    # ragged rows: lines with a field too many / too few go to quarantine
    n = 400
    rows = [[str(i), f"name{rs.randint(0, 40)}", str(rs.randint(0, 9)),
             WORDS[rs.randint(0, len(WORDS))]] for i in range(n)]
    raw = [(i, f"{i}\tx\t1\ty\tEXTRA") for i in range(17, n, 53)]
    raw += [(i + 1, f"{i}\tshort\t2") for i in range(31, n, 61)]
    folder.write("hostile_ragged.tsv", ["id", "name", "qty", "word"], rows,
                 ["double", "string", "double", "string"], raw_lines=raw)

    # UTF-8 BOM + CRLF line ends, quoted fields that hold the delimiter and
    # doubled quotes, and an all-empty column
    n = 300
    rows = [[f"C{rs.randint(0, 25):02d}", f"{rs.uniform(0, 500):.2f}",
             _render(EPOCH_1995 + dt.timedelta(days=int(rs.randint(0, 900)))),
             f'item {rs.randint(0, 30)}\tpart "{rs.randint(0, 4)}"', ""]
            for _ in range(n)]
    folder.write("hostile_bom_crlf.tsv", ["code", "amount", "day", "label", "notes"],
                 rows, ["string", "double", "timestamp", "string", "string"],
                 eol="\r\n", bom=True)


# Columns the scan folder keeps. A scan runs ~25 Spark jobs per file plus a
# few per column, and a run must stay near 10 s warm; these keep each
# table's key, its numeric, date and categorical columns, and every column
# with injected missing or empty cells.
SCAN_COLUMNS = {
    "lineitem": ("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                 "l_discount", "l_tax", "l_returnflag", "l_shipdate"),
    "orders": ("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority"),
}
# missing / empty rates injected into a few columns of the scan folder
NA_RATES = {
    "orders": {"o_orderpriority": (0.0, 0.03), "o_totalprice": (0.01, 0.0)},
    "lineitem": {"l_tax": (0.01, 0.01)},
}


def _scan_columns(tables: dict[str, dict], name: str) -> dict:
    return {c: tables[name][c] for c in SCAN_COLUMNS[name]}


def generate(root: str, seed: int, workloads: tuple[str, ...]) -> dict:
    """Write the inputs of ``workloads`` under ``root``; return the manifest."""
    os.makedirs(root, exist_ok=True)
    manifest: dict = {"seed": seed}
    if "registry_mix" in workloads:
        rs = np.random.RandomState(seed)
        sz = SIZES["tables"]
        tables = _tpch(rs, sz)
        tables.update(_corpus(rs, sz["documents"], sz["embeddings"]))
        tdir = os.path.join(root, "tables")
        os.makedirs(tdir, exist_ok=True)
        for name, cols in tables.items():
            pq.write_table(_arrow(cols), os.path.join(tdir, f"{name}.parquet"))
        manifest["tables"] = {
            name: os.path.getsize(os.path.join(tdir, f"{name}.parquet"))
            for name in sorted(tables)
        }
    if "scan_sampled" in workloads:
        rs = np.random.RandomState(seed + 2)
        tables = _tpch(rs, SIZES["scan_sampled"])
        folder = _Folder(os.path.join(root, "scan_sampled"))
        for name in ("lineitem", "orders"):
            folder.write_table(f"{name}_big.tsv", _scan_columns(tables, name),
                               NA_RATES.get(name), rs)
        _hostile(folder, rs)
        manifest["scan_sampled"] = folder.files
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    choices=["scan_sampled", "registry_mix"],
                    help="repeatable; default: both")
    args = ap.parse_args()
    if os.environ.get("PERFBENCH_TINY") == "1":
        SIZES["tables"] = TINY_TABLES
    generate(args.root, args.seed, tuple(args.workload or ("scan_sampled", "registry_mix")))


if __name__ == "__main__":
    main()
