"""Seeded messy monthly VAT sheets in the FIXTURES.md §A1 formats, and the
box summary (FIXTURES.md §A2) they must produce.

One CSV per month. The file stem is the sheet name and carries the month in
one of the reference's naming styles ("Jan", "March_2024", "03-2024",
"Sept_data"). Each sheet picks its own header aliases ("Net", "Tax", "#",
"Invoice No.", padded or NBSP-spelled names) and column order. Cells mix:

- money: plain, thousands-separated, currency-prefixed ("USD", "$", "€",
  "GBP", "₹", "SAR", "AED"), accounting-parenthesised negatives, minus
  signs, unparseable ("1.2.3", "N/A") and empty;
- dates: d/m/Y, ISO, Excel serials, garbage and empty, with a minority of
  rows dated in the previous year;
- Box: "A", "box b", " C ", "Box A", "A & B", empty (which the reference
  reads as "NAN", so Box A).

The expected summary is computed here from the integer cents the generator
formatted, using the reference's compat rules written out independently:
first currency in rate-table order, HALF_UP to cents, substring box
matching. Amounts whose converted value would sit exactly on a half cent
are nudged by one cent, so no expectation depends on float rounding.

All randomness comes from one ``numpy.random.Generator`` seeded by the
caller; the same seed writes byte-identical files.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np

# (code as written in the cell, rate in thousandths) in the reference's
# detection order; detection is first-substring-match in this order, and the
# generator writes at most one code per cell, so the written code decides
_CURRENCIES = [
    ("", 1000), ("AED ", 1000), ("USD ", 3670), ("$", 3670), ("EUR ", 3980),
    ("€ ", 3980), ("GBP ", 4620), ("£", 4620), ("SAR ", 980), ("INR ", 44),
    ("₹", 44),
]
_CUR_P = np.array([40, 6, 10, 8, 5, 5, 6, 4, 5, 5, 6], float)

_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]
_ABBR = [m[:3] for m in _MONTHS]

# header spellings per canonical column (FIXTURES.md §A1 aliases, plus
# padding and an NBSP that the reference's NFKD normalisation folds away)
_ALIASES = {
    "Supply Type": ["Supply Type", " Supply Type"],
    "Invoice Number": ["Invoice Number", "#", "Invoice #", "Invoice No."],
    "Date": ["Date", "Date "],
    "Customer/supplier Name": ["Customer/supplier Name", "Customer Name", "Supplier Name"],
    "Supply/Purchase Value": ["Supply/Purchase Value", "Net", "Supply/Purchase Value"],
    "VAT Value": ["VAT Value", "Tax", "VAT Value"],
    "Invoice Value": ["Invoice Value", "Gross"],
    "Recoverable": ["Recoverable"],
    "Box": ["Box", " Box"],
}

# Box cells and the compat flags they raise: upper(trim(cell or "nan"))
# contains the letter (quirks Q1, Q2)
_BOXES = ["A", "B", "C", "Box A", "box b", " C ", "a", "", "A & B", "BOX C", "b "]
_BOX_P = np.array([22, 14, 22, 8, 6, 8, 5, 5, 4, 4, 2], float)
_BOX_FLAGS = np.array(
    [[L in (b or "nan").strip(" ").upper() for L in "ABC"] for b in _BOXES]
)

_SUPPLY = ["Sales", "Purchase", "Import", "Export", "sales", ""]
_NAMES = ["Al Noor Trading", "Gulf Supplies, LLC", "Desert Rose", "Blue Wave Co.",
          "Emirates Office", "Falcon & Sons", "", "Zenith FZE"]


def sheet_name(month: int, year: int, style: int) -> str:
    """A sheet name the reference maps to ``month`` (fianl2.py:89-100)."""
    full = _MONTHS[month - 1]
    return [
        _ABBR[month - 1],
        f"{full}_{year}",
        f"{month:02d}-{year}",
        f"{'Sept' if month == 9 else _ABBR[month - 1]}_data",
    ][style]


def _money_text(cents: int, fmt: int, cur: str) -> str:
    """Format signed integer cents. fmt: 0 plain, 1 thousands separators,
    2 accounting parentheses for negatives (else as 0)."""
    a = abs(cents)
    whole, frac = divmod(a, 100)
    body = f"{whole:,}.{frac:02d}" if fmt == 1 else f"{whole}.{frac:02d}"
    if cents < 0:
        body = f"({body})" if fmt == 2 else f"-{body}"
    return f"{cur}{body}"


def _convert(cents: np.ndarray, rate_milli: np.ndarray) -> np.ndarray:
    """round_half_up(cents * rate) in cents, exact integer arithmetic."""
    p = np.abs(cents) * rate_milli  # value in 1e-5 units
    return np.sign(cents) * ((p + 500) // 1000)


def _amounts(rng: np.random.Generator, n: int, rate_milli: np.ndarray) -> np.ndarray:
    cents = np.clip(rng.lognormal(8.5, 1.6, n), 1, 5e9).astype(np.int64)
    cents = np.where(rng.random(n) < 0.08, -cents, cents)
    # no converted value may sit exactly on a half cent
    tie = (np.abs(cents) * rate_milli) % 1000 == 500
    return np.where(tie, cents + 1, cents)


def _money_column(rng, n):
    """Returns (cell texts, expected converted cents)."""
    cur_i = rng.choice(len(_CURRENCIES), n, p=_CUR_P / _CUR_P.sum())
    rate = np.array([r for _, r in _CURRENCIES], np.int64)[cur_i]
    cents = _amounts(rng, n, rate)
    fmt = rng.integers(0, 3, n)
    kind = rng.random(n)  # < 0.02 unparseable, < 0.04 empty
    texts = []
    for i in range(n):
        if kind[i] < 0.01:
            texts.append("1.2.3")
        elif kind[i] < 0.02:
            texts.append("N/A")
        elif kind[i] < 0.04:
            texts.append("")
        else:
            texts.append(_money_text(int(cents[i]), int(fmt[i]), _CURRENCIES[cur_i[i]][0]))
    value = np.where(kind < 0.04, 0, _convert(cents, rate))
    return texts, value


def _date_column(rng, n, year, month):
    epoch = dt.date(1899, 12, 30)
    yr = np.where(rng.random(n) < 0.1, year - 1, year)
    day = rng.integers(1, 29, n)
    fmt = rng.choice(5, n, p=[0.45, 0.25, 0.2, 0.05, 0.05])
    out = []
    for y, d, f in zip(yr.tolist(), day.tolist(), fmt.tolist()):
        if f == 0:
            out.append(f"{d}/{month}/{y}" if d % 2 else f"{d:02d}/{month:02d}/{y}")
        elif f == 1:
            out.append(f"{y}-{month:02d}-{d:02d}")
        elif f == 2:
            out.append(str((dt.date(y, month, d) - epoch).days))
        elif f == 3:
            out.append("TBD")
        else:
            out.append("")
    return out


def write_sheets(out_dir: str, seed: int, n_sheets: int, rows: int) -> dict:
    """Write ``n_sheets`` monthly CSVs under ``out_dir`` and return the
    generator's record: file paths, row count, input bytes and the expected
    summary rows in golden order."""
    rng = np.random.default_rng(seed)
    year = 2019 + seed % 6
    os.makedirs(out_dir, exist_ok=True)
    paths, expected = [], []
    for s in range(n_sheets):
        month = s % 12 + 1
        yr = year + s // 12
        name = sheet_name(month, yr, int(rng.integers(0, 4)))
        if s >= 12:  # a second year keeps distinct sheets distinct
            name = f"{_MONTHS[month - 1]}_{yr}"
        net_t, net_v = _money_column(rng, rows)
        vat_t, vat_v = _money_column(rng, rows)
        gross_t, _ = _money_column(rng, rows)
        box_i = rng.choice(len(_BOXES), rows, p=_BOX_P / _BOX_P.sum())
        cols = {
            "Supply Type": [_SUPPLY[i] for i in rng.integers(0, len(_SUPPLY), rows)],
            "Invoice Number": [f"INV-{yr}{month:02d}-{i:06d}" for i in range(rows)],
            "Date": _date_column(rng, rows, yr, month),
            "Customer/supplier Name": [_NAMES[i] for i in rng.integers(0, len(_NAMES), rows)],
            "Supply/Purchase Value": net_t,
            "VAT Value": vat_t,
            "Invoice Value": gross_t,
            "Recoverable": ["Yes" if b else "No" for b in rng.random(rows) < 0.5],
            "Box": [_BOXES[i] for i in box_i],
        }
        order = [list(cols)[i] for i in rng.permutation(len(cols))]
        header = [_ALIASES[c][int(rng.integers(0, len(_ALIASES[c])))] for c in order]
        path = os.path.join(out_dir, f"{name}.csv")
        with open(path, "w", newline="", encoding="utf-8") as fh:
            w = csv.writer(fh)
            w.writerow(header)
            w.writerows(zip(*(cols[c] for c in order)))
        paths.append(path)

        flags = _BOX_FLAGS[box_i]
        net = {L: int(net_v[flags[:, k]].sum()) for k, L in enumerate("ABC")}
        vat = {L: int(vat_v[flags[:, k]].sum()) for k, L in enumerate("ABC")}
        period = f"{_ABBR[month - 1]} {yr}"
        for L in "ABC":
            expected.append((yr, month, period, f"Box {L}", net[L], vat[L], 0))
        d = vat["A"] - vat["C"]
        expected.append((yr, month, period, "Box D", 0, d, d))
    expected.sort(key=lambda r: (r[0], r[1], r[3]))
    return {
        "paths": paths,
        "rows": rows * n_sheets,
        "bytes": sum(os.path.getsize(p) for p in paths),
        # (Period, FTA Box, Net cents, VAT cents, Payable cents)
        "expected": [r[2:] for r in expected],
    }
