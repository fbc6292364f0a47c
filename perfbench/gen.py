"""Seeded input generator.

The parquet tables are a seeded resample of the engine's sf0.1 test
tables (TESTDATA.md), of which ``source/`` holds a copy (same rows,
schema and column types; recompressed with zstd to keep the checkout
small). Each table keeps a seeded ``KEEP`` share of its entities --
users for ``events``, orders for ``orders`` and ``lineitem``, documents,
vectors -- and every id column is re-keyed through a seeded permutation
of its id domain, so the same order key maps to the same new key in
both tables that carry it. The Index and Adult publication workbooks,
which have no test-table source, are written from the FIXTURES.md
shapes. The same seed gives byte-identical inputs; nothing outside the
benchmark's directory and the output directories is read or written.
"""

from __future__ import annotations

import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "source")
KEEP = 0.9

# Id columns re-keyed per table, with their id kind; the first one names
# the entity whose rows are kept or dropped together.
IDS = {
    "events": [("user_id", "user"), ("event_id", "event")],
    "orders": [("o_orderkey", "order")],
    "lineitem": [("l_orderkey", "order")],
    "documents": [("doc_id", "doc")],
    "embeddings": [("vec_id", "vec")],
}
KINDS = ["user", "event", "order", "doc", "vec"]


def _source(name: str) -> str:
    return os.path.join(SOURCE, f"{name}.parquet")


def rekey(seed: int, kind: str) -> tuple[np.ndarray, np.ndarray]:
    """(keep mask, new id) over an id kind's domain, 0 .. its largest id
    in any source table."""
    size = 1 + max(
        pc.max(pq.read_table(_source(t), columns=[c]).column(0)).as_py()
        for t, cols in IDS.items() for c, k in cols if k == kind
    )
    rng = np.random.default_rng([seed, KINDS.index(kind)])
    return rng.random(size) < KEEP, rng.permutation(size)


def resample(seed: int, name: str) -> pa.Table:
    """One table's seeded resample; tables without ids are copied."""
    table = pq.read_table(_source(name))
    for i, (col, kind) in enumerate(IDS.get(name, [])):
        keep, new = rekey(seed, kind)
        old = table.column(col).to_numpy()
        if i == 0:
            table = table.filter(pa.array(keep[old]))
            old = old[keep[old]]
        table = table.set_column(
            table.schema.get_field_index(col), table.schema.field(col),
            pa.array(new[old], type=table.schema.field(col).type),
        )
    return table


def write_tables(seed: int, out_dir: str, names: list[str]) -> dict[str, dict]:
    """Write each named table's resample as ``<out_dir>/<name>.parquet``
    (snappy, like the source test tables); return rows and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in names:
        path = os.path.join(out_dir, f"{name}.parquet")
        table = resample(seed, name)
        pq.write_table(table, path)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return sizes


# ---------------------------------------------------------------------------
# Publication workbooks (FIXTURES.md §1-2)
# ---------------------------------------------------------------------------

TARGETS = ["E56000027", "E40000003", "E92000001"]
INDEX_SITES = {
    "Index": ["Persons", "Male", "Female"],
    "Breast": ["Female"],
    "Other": ["Persons"],
    "Lung": ["Persons", "Male", "Female"],
    "Colorectal": ["Persons", "Male", "Female"],
    "Bladder": ["Persons"],
}
ADULT_SITES = {
    "Breast": ["Female"],
    "Larynx": ["Male"],
    "Prostate": ["Male"],
    "Cervix": ["Female"],
    "Ovary": ["Female"],
    "Lung": ["Persons", "Male", "Female"],
    "Colon": ["Persons", "Male", "Female"],
    "Melanoma": ["Persons", "Male", "Female"],
}
AGES = ["All ages", "15-44", "45-54", "55-64", "65-74", "75-99"]
ADULT_STD = ["Age-standardised (5 age groups)", "Non-standardised"]


def _geographies(rng, n_ca: int, n_other: int) -> list[tuple[str, str, str]]:
    cas = [("Cancer Alliance", f"E560{i:05d}", f"CA {i}") for i in range(n_ca)]
    cas.append(("Cancer Alliance", TARGETS[0], "North Central London"))
    other = [
        (str(rng.choice(["ICB", "Sub-ICB"])), f"E54{i:06d}", f"Area {i}")
        for i in range(n_other)
    ]
    return cas + other + [
        ("Region", TARGETS[1], "London"),
        ("Country", TARGETS[2], "England"),
    ]


def _pct(rng, null_share: float):
    return None if rng.random() < null_share else round(float(rng.uniform(20.0, 98.0)), 1)


def index_rows(rng, n_ca: int = 7, n_other: int = 2) -> list[dict]:
    rows = []
    for gtype, code, name in _geographies(rng, n_ca, n_other):
        for site, genders in INDEX_SITES.items():
            for gender in genders:
                for age in AGES:
                    for year in (2019, 2020):
                        for ysd in (1, 5):
                            surv = _pct(rng, 0.08)
                            rows.append({
                                "Geography type": gtype,
                                "Geography code": code,
                                "Geography name": name,
                                "Cancer site": site,
                                "Gender": gender,
                                "Age at diagnosis": age,
                                "Standardisation type": "Age-standardised",
                                "Diagnosis year": year,
                                "Years since diagnosis": ysd,
                                "Patient numbers": int(rng.integers(5, 5000)),
                                "Survival (%)": surv,
                                "Lower CI": None if surv is None else round(surv - 2.5, 1),
                                "Upper CI": None if surv is None else round(surv + 2.5, 1),
                                "Precision": round(float(rng.uniform(0.1, 3.0)), 2),
                                "Standard error": round(float(rng.uniform(0.1, 5.0)), 2),
                                "Substituted by Other Geography": (
                                    TARGETS[2] if rng.random() < 0.05 else None
                                ),
                            })
    return rows


def adult_rows(rng, n_ca: int = 16, n_other: int = 15) -> list[dict]:
    rows = []
    for gtype, code, name in _geographies(rng, n_ca, n_other):
        for site, genders in ADULT_SITES.items():
            for gender in genders:
                for std in ADULT_STD:
                    for ysd in (1, 3, 5):
                        rows.append({
                            "Geography type": gtype,
                            "Geography name": name,
                            "Geography code": code,
                            "Cancer site": site,
                            "Gender": gender,
                            "Standardisation type": std,
                            "Years since diagnosis": ysd,
                            "Patients": int(rng.integers(5, 5000)),
                            "Net survival (%)": _pct(rng, 0.08),
                            "Overall survival (%)": _pct(rng, 0.2),
                        })
    return rows


def _col_ref(idx: int) -> str:
    ref = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        ref = chr(ord("A") + rem) + ref
    return ref


def _cell(ref: str, v) -> str:
    if v is None:
        return ""
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'


def write_workbook(path: str, sheet: str, skiprows: int, rows: list[dict]) -> None:
    """One-sheet .xlsx (inline strings, no styles): ``skiprows`` title
    rows, then the header, then the data — the publication layout."""
    header = list(rows[0])
    grid = [[f"Title line {i + 1}"] for i in range(skiprows)]
    grid.append(header)
    grid.extend([r[c] for c in header] for r in rows)
    refs = [_col_ref(i) for i in range(len(header))]
    body = "".join(
        f'<row r="{ri}">'
        + "".join(_cell(f"{refs[ci]}{ri}", v) for ci, v in enumerate(row))
        + "</row>"
        for ri, row in enumerate(grid, start=1)
    )
    ns = "http://schemas.openxmlformats.org"
    rel = f"{ns}/officeDocument/2006/relationships"
    parts = {
        "[Content_Types].xml": (
            f'<Types xmlns="{ns}/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/'
            'vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>'
        ),
        "xl/workbook.xml": (
            f'<workbook xmlns="{ns}/spreadsheetml/2006/main" xmlns:r="{rel}">'
            f'<sheets><sheet name="{escape(sheet)}" sheetId="1" r:id="rId1"/>'
            "</sheets></workbook>"
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>'
        ),
        "xl/worksheets/sheet1.xml": (
            f'<worksheet xmlns="{ns}/spreadsheetml/2006/main">'
            f"<sheetData>{body}</sheetData></worksheet>"
        ),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, xml in parts.items():
            zf.writestr(name, '<?xml version="1.0" encoding="UTF-8"?>' + xml)


WORKBOOKS = {
    "Index_2023.xlsx": ("Table 5", 10, index_rows),
    "adult_2016_2020.xlsx": ("Table 4", 9, adult_rows),
}


def workbook_rows(seed: int) -> dict[str, list[dict]]:
    """The raw sheet rows of each publication workbook."""
    rng = np.random.default_rng(seed + 1)
    return {fname: make(rng) for fname, (_, _, make) in WORKBOOKS.items()}


def write_workbooks(seed: int, out_dir: str) -> dict[str, dict]:
    """Write the Index and Adult workbooks into ``out_dir``; return each
    file's data rows and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for fname, rows in workbook_rows(seed).items():
        sheet, skip, _ = WORKBOOKS[fname]
        path = os.path.join(out_dir, fname)
        write_workbook(path, sheet, skip, rows)
        out[fname] = {"rows": len(rows), "bytes": os.path.getsize(path)}
    return out


def main(argv=None) -> int:
    """``gen.py SEED DATA_DIR BOOKS_DIR TABLE,... WITH_BOOKS OUT_JSON``:
    write the inputs of one run and their sizes. Run as a child process
    so the generator's memory is not billed to the benchmarked Python
    driver process."""
    import json
    import sys

    seed, data_dir, books_dir, names, with_books, out = (argv or sys.argv[1:])
    sizes = {
        "tables": write_tables(int(seed), data_dir, names.split(",")),
        "workbooks": write_workbooks(int(seed), books_dir) if with_books == "1" else {},
    }
    with open(out, "w") as fh:
        json.dump(sizes, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
