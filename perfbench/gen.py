"""Seeded generator for NHS-shaped cancer-survival workbooks.

One call draws the logical rows of a "Table 5" Index sheet and a "Table 4"
Adult sheet (the value classes of FIXTURES.md A1-A3) and renders the same
rows either as .xlsx workbooks (shared strings, numeric <v> cells, absent
cells for nulls, a "Notes and definitions" sheet holding the snapshot line)
or as staged CSV with the 10-line / 9-line preamble the reader skips.

The logical rows are returned as Arrow tables so the oracle can re-derive
the expected outputs from exactly what was rendered.
"""
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

NCL, LONDON, ENGLAND = "E56000027", "E40000003", "E92000001"

# (type, code, name); names exercise CSV quoting (comma) and XML escaping
# (ampersand, apostrophe).
_ALLIANCES = [("Cancer Alliance", NCL, "North Central London")] + [
    ("Cancer Alliance", f"E560000{n:02d}", name) for n, name in [
        (1, "Cheshire and Merseyside"), (2, "East Midlands"),
        (3, "Surrey & Sussex"), (5, "Kent and Medway"), (8, "Thames Valley"),
        (10, "Peninsula"), (12, "Wessex"), (14, "Somerset, Wiltshire and Avon"),
        (16, "West Yorkshire and Harrogate"), (18, "Humber and North Yorkshire"),
        (20, "Northern"), (22, "Greater Manchester"), (24, "Lancashire and South Cumbria"),
        (26, "North East London"), (28, "South East London"), (29, "RM Partners"),
        (31, "East of England - North"), (33, "East of England - South"),
        (35, "West Midlands"), (36, "King's Lynn and Norfolk")]]
_REGIONS = [("Region", LONDON, "London")] + [
    ("Region", f"E400000{n:02d}", name) for n, name in [
        (5, "North East and Yorkshire"), (6, "North West"), (7, "Midlands"),
        (8, "East of England"), (9, "South East"), (10, "South West")]]
_COUNTRY = [("Country", ENGLAND, "England")]
_ICBS = [("ICB", f"E54000{n:03d}", f"ICB {n:03d}") for n in range(8, 50)]
_SUB_ICBS = [("Sub-ICB", f"E38000{n:03d}", f"Sub-ICB location {n:03d}") for n in range(1, 107)]

# (pool, probability of a row coming from it)
_GEOGRAPHY = [(_ALLIANCES, 0.36), (_ICBS, 0.24), (_SUB_ICBS, 0.28),
              (_REGIONS, 0.08), (_COUNTRY, 0.04)]

INDEX_SITES = ["Index", "Breast", "Other", "Lung", "Colorectal", "Prostate",
               "Bladder", "Kidney", "Oesophagus", "Stomach"]
ADULT_SITES = ["Breast", "Larynx", "Prostate", "Cervix", "Ovary", "Lung",
               "Colon", "Rectum", "Melanoma", "Bladder", "Kidney", "Pancreas"]
GENDERS = ["Persons", "Male", "Female"]
AGES = ["All ages", "15-44", "45-54", "55-64", "65-74", "75-99"]
INDEX_STD = ["Age-standardised", "Non-standardised"]
# the last class has no "(...)" and is not Non-standardised: its
# subcategory is NULL
ADULT_STD = ["Age-standardised (5 age groups)", "Age-standardised (all ages)",
             "Non-standardised", "Age-standardised"]
ADULT_STD_P = [0.4, 0.25, 0.3, 0.05]
YEARS_SINCE = [1, 5, 10]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]

INDEX_COLUMNS = [
    ("Geography type", pa.string()), ("Geography name", pa.string()),
    ("Geography code", pa.string()), ("Cancer site", pa.string()),
    ("Gender", pa.string()), ("Age at diagnosis", pa.string()),
    ("Standardisation type", pa.string()), ("Diagnosis year", pa.int64()),
    ("Years since diagnosis", pa.int64()), ("Patient numbers", pa.int64()),
    ("Survival (%)", pa.float64()), ("Lower CI", pa.float64()),
    ("Upper CI", pa.float64()), ("Precision", pa.float64()),
    ("Standard error", pa.float64()), ("Substituted by Other Geography", pa.string())]
ADULT_COLUMNS = [
    ("Geography type", pa.string()), ("Geography name", pa.string()),
    ("Geography code", pa.string()), ("Cancer site", pa.string()),
    ("Gender", pa.string()), ("Standardisation type", pa.string()),
    ("Years since diagnosis", pa.int64()), ("Patients", pa.int64()),
    ("Net survival (%)", pa.float64()), ("Overall survival (%)", pa.float64())]


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


def _geography(rng, n):
    pools = [pool for pool, _ in _GEOGRAPHY]
    which = rng.choice(len(pools), size=n, p=[p for _, p in _GEOGRAPHY])
    gtype = np.empty(n, dtype=object)
    gcode = np.empty(n, dtype=object)
    gname = np.empty(n, dtype=object)
    for k, pool in enumerate(pools):
        idx = np.nonzero(which == k)[0]
        pick = rng.integers(0, len(pool), size=len(idx))
        gtype[idx] = [pool[i][0] for i in pick]
        gcode[idx] = [pool[i][1] for i in pick]
        gname[idx] = [pool[i][2] for i in pick]
    return gtype, gname, gcode


def _tenths(rng, n, lo, hi, null_p):
    """Measures with one decimal place; `null_p` of them missing."""
    v = rng.integers(lo * 10, hi * 10, size=n) / 10.0
    return pa.array(v, mask=rng.random(n) < null_p)


def _counts(rng, n, null_p):
    return pa.array(rng.integers(5, 20000, size=n), mask=rng.random(n) < null_p)


def index_rows(rng, n):
    gtype, gname, gcode = _geography(rng, n)
    surv = rng.integers(50, 990, size=n) / 10.0
    half = rng.integers(5, 120, size=n) / 10.0
    subst = np.where(rng.random(n) < 0.05, _pick(rng, [a[2] for a in _ALLIANCES], n), None)
    cols = [gtype, gname, gcode, _pick(rng, INDEX_SITES, n), _pick(rng, GENDERS, n),
            _pick(rng, AGES, n), _pick(rng, INDEX_STD, n),
            rng.integers(2006, 2022, size=n), _pick(rng, YEARS_SINCE, n).astype(np.int64),
            _counts(rng, n, 0.04),
            pa.array(surv, mask=rng.random(n) < 0.04),
            pa.array(np.round(surv - half, 1), mask=rng.random(n) < 0.05),
            pa.array(np.round(surv + half, 1), mask=rng.random(n) < 0.05),
            _tenths(rng, n, 1, 30, 0.05), _tenths(rng, n, 1, 60, 0.05),
            subst]
    return pa.table([pa.array(c, type=t) if not isinstance(c, pa.Array) else c.cast(t)
                     for c, (_, t) in zip(cols, INDEX_COLUMNS)],
                    names=[name for name, _ in INDEX_COLUMNS])


def adult_rows(rng, n):
    gtype, gname, gcode = _geography(rng, n)
    site = _pick(rng, ADULT_SITES, n)
    gender = _pick(rng, GENDERS, n)
    net = rng.integers(50, 990, size=n) / 10.0
    cols = [gtype, gname, gcode, site, gender,
            _pick(rng, ADULT_STD, n, ADULT_STD_P), _pick(rng, YEARS_SINCE, n).astype(np.int64),
            _counts(rng, n, 0.04),
            pa.array(net, mask=rng.random(n) < 0.05),
            pa.array(np.round(net * rng.uniform(0.6, 1.0, size=n), 1),
                     mask=rng.random(n) < 0.05)]
    return pa.table([pa.array(c, type=t) if not isinstance(c, pa.Array) else c.cast(t)
                     for c, (_, t) in zip(cols, ADULT_COLUMNS)],
                    names=[name for name, _ in ADULT_COLUMNS])


class Generation:
    """The logical inputs of one load: both sheets plus the names and stamps
    the pipelines derive from the filename and the Notes sheet."""

    def __init__(self, seed, rows):
        rng = np.random.default_rng(seed)
        self.index = index_rows(rng, rows)
        self.adult = adult_rows(rng, rows)
        y1 = int(rng.integers(2012, 2018))
        self.window = f"{y1}-{y1 + 4}"
        self.index_file = f"Index_cancer_survival_{y1 + 4}"
        self.adult_file = f"adult_cancer_survival_{y1}_{y1 + 4}"
        self.snapshot = f"{MONTHS[int(rng.integers(0, 12))]} {int(rng.integers(2019, 2025))}"

    def write_csv(self, staging):
        """Staged CSV: preamble lines, header, rows (Index 10, Adult 9)."""
        os.makedirs(staging, exist_ok=True)
        for name, table, skip in [(self.index_file, self.index, 10),
                                  (self.adult_file, self.adult, 9)]:
            path = os.path.join(staging, name + ".csv")
            with open(path, "wb") as f:
                f.write(_preamble(skip).encode())
                pacsv.write_csv(table, f, pacsv.WriteOptions(quoting_style="needed"))

    def write_xlsx(self, staging):
        os.makedirs(staging, exist_ok=True)
        _write_workbook(os.path.join(staging, self.index_file + ".xlsx"),
                        [("Table 5", _sheet_rows(self.index, 10))])
        notes = [[f"Note {i}"] if i % 3 == 0 else [] for i in range(11)]
        notes.append([f"These figures are based on data extracted in {self.snapshot} snapshot"])
        _write_workbook(os.path.join(staging, self.adult_file + ".xlsx"),
                        [("Notes and definitions", notes),
                         ("Table 4", _sheet_rows(self.adult, 9))])


def _preamble(lines):
    text = ["Cancer survival in England, adults diagnosed 2006 to 2021",
            "Source: National Disease Registration Service", ""]
    return "".join((text[i] if i < len(text) else f"Note {i}") + "\n" for i in range(lines))


def _sheet_rows(table, skip):
    """Sheet rows as lists of cell values (None = absent cell): `skip`
    preamble rows, some of them blank, then the header and the data."""
    rows = [["Cancer survival in England"] if i == 0 else ([] if i % 2 else [f"Note {i}"])
            for i in range(skip)]
    rows.append(table.column_names)
    cols = [c.to_pylist() for c in table.columns]
    rows.extend(zip(*cols))
    return rows


_COL_LETTERS = [chr(ord("A") + i) for i in range(26)]


def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


def _write_workbook(path, sheets):
    shared = {}
    sheet_xml = []
    for _, rows in sheets:
        out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
               '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>']
        for r, row in enumerate(rows, start=1):
            cells = []
            for c, v in enumerate(row):
                if v is None:
                    continue
                ref = _COL_LETTERS[c] + str(r)
                if isinstance(v, str):
                    i = shared.setdefault(v, len(shared))
                    cells.append(f'<c r="{ref}" t="s"><v>{i}</v></c>')
                else:
                    cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
            if cells:  # Excel omits empty rows; the reader pads the gap
                out.append(f'<row r="{r}">{"".join(cells)}</row>')
        out.append("</sheetData></worksheet>")
        sheet_xml.append("".join(out))
    sst = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           f'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
           f'count="{len(shared)}" uniqueCount="{len(shared)}">']
    sst.extend(f"<si><t>{_esc(s)}</t></si>" for s in shared)
    sst.append("</sst>")
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    workbook = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<workbook {ns} {rel_ns}><sheets>'
                + "".join(f'<sheet name="{_esc(name)}" sheetId="{i}" r:id="rId{i}"/>'
                          for i, (name, _) in enumerate(sheets, start=1))
                + "</sheets></workbook>")
    rtype = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(f'<Relationship Id="rId{i}" Type="{rtype}/worksheet" Target="worksheets/sheet{i}.xml"/>'
                      for i in range(1, len(sheets) + 1))
            + f'<Relationship Id="rId{len(sheets) + 1}" Type="{rtype}/sharedStrings" Target="sharedStrings.xml"/>'
            + "</Relationships>")
    ct_main = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        f'<Override PartName="/xl/workbook.xml" ContentType="{ct_main}.sheet.main+xml"/>'
        + "".join(f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType="{ct_main}.worksheet+xml"/>'
                  for i in range(1, len(sheets) + 1))
        + f'<Override PartName="/xl/sharedStrings.xml" ContentType="{ct_main}.sharedStrings+xml"/>'
        "</Types>")
    root_rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
                 '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
                 f'<Relationship Id="rId1" Type="{rtype}/officeDocument" Target="xl/workbook.xml"/>'
                 "</Relationships>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/sharedStrings.xml", "".join(sst))
        for i, xml in enumerate(sheet_xml, start=1):
            z.writestr(f"xl/worksheets/sheet{i}.xml", xml)
