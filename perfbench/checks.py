"""Correctness checks for the benchmark's outputs.

* Scan runs: the overview's ``n_rows`` / ``n_rows_checked`` / field counts
  and every column's type, missing, empty and distinct counts must equal the
  generator's ground truth. Sampled files are checked only where the truth
  survives sampling: a count is exact when the rows left out cannot change
  it, and otherwise must lie within what those rows could change.
* For the default seed on the recorded core count, every report file must
  also match the digest recorded in ``expected_reports.json``. xlsx files
  are zips stamped with the write time, so their digest covers the
  decompressed members.
* Registry queries: the collected rows must hash, with ``tools/oracle_full.py``'s
  normalisation, to the hash of the query's DuckDB oracle SQL on the same
  generated tables.

Each check returns a list of problems; an empty list means the run passed.
"""

from __future__ import annotations

import csv
import hashlib
import importlib.util
import os
import re
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_REPORTS = os.path.join(HERE, "expected_reports.json")


def load_oracle_helpers(repo: str):
    """``tools/oracle_full.py`` as a module (normalisation + value hash)."""
    path = os.path.join(repo, "tools", "oracle_full.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_full", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def result_hash(oracle, columns: list[str], rows: list[tuple]) -> str:
    return oracle._value_hash(oracle._rows_to_set(columns, rows))


def oracle_hashes(oracle, tables_dir: str, names: list[str], sql: dict[str, str]) -> dict[str, str]:
    """Hash of each query's DuckDB oracle over the generated parquet tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in oracle.TABLES:
            path = os.path.join(tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            rel = con.sql(sql[name])
            out[name] = result_hash(oracle, list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


# ------------------------------------------------------------- reports

def _read_tsv(path: str) -> list[dict[str, str]]:
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.DictReader(fh, delimiter="\t"))


_CELL = re.compile(r'<c r="([A-Z]+)\d+"[^>]*>(?:<v>([^<]*)</v>|<is><t[^>]*>([^<]*)</t></is>)</c>')


def _col_index(letters: str) -> int:
    n = 0
    for ch in letters:
        n = n * 26 + ord(ch) - 64
    return n - 1


def read_xlsx(path: str) -> dict[str, list[dict[str, str]]]:
    """Sheets of a report written by ``whiterrabbit_spark.xlsx`` as lists of
    row dicts (string values; absent cells are empty)."""
    import html

    with zipfile.ZipFile(path) as z:
        wb = z.read("xl/workbook.xml").decode()
        names = re.findall(r'<sheet name="([^"]+)"', wb)
        sheets = {}
        for i, name in enumerate(names):
            xml = z.read(f"xl/worksheets/sheet{i + 1}.xml").decode()
            table = []
            for row in re.findall(r"<row r=\"\d+\">(.*?)</row>", xml):
                cells: dict[int, str] = {}
                for ref, v, t in _CELL.findall(row):
                    cells[_col_index(ref)] = html.unescape(v or t)
                width = max(cells) + 1 if cells else 0
                table.append([cells.get(j, "") for j in range(width)])
            header = table[0] if table else []
            sheets[html.unescape(name)] = [
                dict(zip(header, r + [""] * (len(header) - len(r)))) for r in table[1:]
            ]
        return sheets


def report_tables(out_dir: str, prefix: str = "ScanReport"):
    """(overview rows, {file_index: summary rows}) from a tsv or xlsx report."""
    xlsx = os.path.join(out_dir, f"{prefix}.xlsx")
    if os.path.exists(xlsx):
        sheets = read_xlsx(xlsx)
        summaries = {int(k[4:]): v for k, v in sheets.items()
                     if re.fullmatch(r"File\d+", k)}
        return sheets["Overview"], summaries
    overview = _read_tsv(os.path.join(out_dir, f"{prefix}_Overview.tsv"))
    summaries = {}
    for name in os.listdir(out_dir):
        m = re.fullmatch(rf"{prefix}_File(\d+)_Summary\.tsv", name)
        if m:
            summaries[int(m.group(1))] = _read_tsv(os.path.join(out_dir, name))
    return overview, summaries


def report_digests(out_dir: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        h = hashlib.sha256()
        if name.endswith(".xlsx"):
            with zipfile.ZipFile(path) as z:
                for member in sorted(z.namelist()):
                    h.update(member.encode() + b"\0" + z.read(member))
        else:
            with open(path, "rb") as fh:
                h.update(fh.read())
        out[name] = h.hexdigest()
    return out


def _num(v: str) -> int:
    return int(float(v))


def check_scan(out_dir: str, truth: dict[str, dict], max_rows: int) -> list[str]:
    """Compare a scan report against the generator's per-file truth."""
    problems: list[str] = []
    overview, summaries = report_tables(out_dir)
    if sorted(r["file_name"] for r in overview) != sorted(truth):
        return [f"overview lists {[r['file_name'] for r in overview]}"]
    for r in overview:
        name = r["file_name"]
        t = truth[name]
        rows = t["data_rows"]
        checked = min(rows, max_rows) if max_rows > 0 else rows
        want = {"n_rows": t["lines"], "n_rows_checked": checked,
                "n_fields": len(t["columns"]),
                "n_fields_empty": t["all_empty_columns"]}
        for k, v in want.items():
            if _num(r[k]) != v:
                problems.append(f"{name}: {k}={r[k]} want {v}")
        idx = int(r["table"][4:])
        got = {s["column_name"]: s for s in summaries.get(idx, [])}
        if sorted(got) != sorted(t["columns"]):
            problems.append(f"{name}: summary columns {sorted(got)}")
            continue
        left_out = rows - checked
        for col, ct in t["columns"].items():
            s = got[col]
            if s["data_type"] != ct["type"]:
                problems.append(f"{name}.{col}: type {s['data_type']} want {ct['type']}")
            if _num(s["total_count"]) != checked:
                problems.append(f"{name}.{col}: total_count {s['total_count']} want {checked}")
            for k in ("missing", "empty"):
                v, full = _num(s[f"{k}_count"]), ct[k]
                ok = v == full if left_out == 0 else max(0, full - left_out) <= v <= full
                if not ok:
                    problems.append(f"{name}.{col}: {k}_count {v} want {full}")
            v, full = _num(s["distinct_count"]), ct["distinct"]
            if left_out == 0 or ct["min_value_count"] > left_out:
                ok = v == full  # every value survives the sample
            else:
                ok = v <= full and (v > 0) == (full > 0)
            if not ok:
                problems.append(f"{name}.{col}: distinct_count {v} want {full}")
    return problems


def check_quarantine(out_dir: str, truth: dict[str, dict]) -> list[str]:
    problems = []
    for name, t in truth.items():
        path = os.path.join(out_dir, f"ScanReport_Quarantine_{name}.txt")
        n = 0
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                n = sum(1 for _ in fh)
        if n != t["quarantined"]:
            problems.append(f"{name}: {n} quarantined lines, want {t['quarantined']}")
    return problems


def check_digests(out_dir: str, expected: dict[str, str]) -> list[str]:
    got = report_digests(out_dir)
    if got == expected:
        return []
    bad = sorted(k for k in set(got) | set(expected) if got.get(k) != expected.get(k))
    return [f"report digest mismatch: {bad}"]
