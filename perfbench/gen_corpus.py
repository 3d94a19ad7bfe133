"""Seeded synthetic NI 43-101 report corpus with a truth file.

Each document is a multi-page PDF written by this module's own writer
(a page tree, one FlateDecode content stream per page, an xref table),
not by the package's renderers, so the decoder is measured on bytes it
did not produce. The generator plants, and records in the truth:

* cover metadata: project, company, region, country and effective date;
* a mineral-resources and a mineral-reserves table, some with one row
  that fails validation and lands in quarantine;
* an economics paragraph (capex, opex, NPV, IRR, currency), absent in a
  share of documents so those fields stay null;
* a table of contents whose dot leaders must not be taken for a table.

One document in seven is a scan with no text layer (an image XObject
per page), and one in five of the rest shows its text as ``<hex> Tj``
strings decoded through a ToUnicode CMap. The seed picks which documents
those are and shuffles a fixed, evenly spaced set of page counts, so
every seed gives the same amount of work; the same (seed, docs, pages)
gives byte-identical files and truth.
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
import zlib

FILLER = (
    "the drill program tested the down dip extension of the main vein "
    "system and confirmed continuity of the mineralized structure along "
    "strike with assays reported from the core logging facility where "
    "samples were split and bagged under chain of custody before shipment "
    "to the laboratory for fire assay with gravimetric finish and the "
    "quality control program inserted blanks duplicates and certified "
    "reference materials at regular intervals across every batch while "
    "the geological model honours lithology alteration and structural "
    "controls interpreted from surface mapping and underground workings"
).split()
NAMES = "Alpha Bravo Crest Delta Eagle Falcon Granite Harbor Iron Jade Kestrel Lynx Mesa Nova Orion Pinnacle".split()
SUFFIX_PLACE = ("Project", "Mine", "Operations")
SUFFIX_CO = ("Corporation", "Corp", "Inc", "Ltd", "SA")
REGIONS = "Antioquia Bolivar Caldas Sonora Durango Nevada Ontario Quebec Atacama Cajamarca".split()
COUNTRIES = "Colombia Mexico Canada Chile Peru Ecuador Brazil".split()
MONTHS = (
    "January February March April May June July August September October "
    "November December"
).split()
METALS = (
    # (heading word, symbol, grade unit, contained heading, contained unit)
    ("Gold", "Au", "g/t", "gold", "koz"),
    ("Silver", "Ag", "g/t", "silver", "Moz"),
    ("Copper", "Cu", "%", "copper", "Mlb"),
)
RESOURCE_CATS = ("Measured", "Indicated", "Measured + Indicated", "Inferred")
RESERVE_CATS = ("Proven", "Probable", "Proven + Probable")
CHARS_PER_LINE = 90
LINES_PER_PAGE = 16


def _num(x: float, decimals: int) -> str:
    """Thousands-separated decimal, as report tables print numbers."""
    return f"{x:,.{decimals}f}"


def _table(rng: random.Random, cats: tuple[str, ...], quarantine: bool):
    """(header words, rendered rows, clean truth rows, quarantined truth rows)."""
    metal, sym, gunit, cname, cunit = rng.choice(METALS)
    tunit = rng.choice(("Mt", "kt"))
    header = (
        f"Classification Tonnes ({tunit}) {metal} grade ({gunit}) "
        f"Contained {cname} ({cunit})"
    )
    bad = rng.randrange(len(cats)) if quarantine else -1
    lines, clean, bad_rows = [], [], []
    for i, cat in enumerate(cats):
        tonnes = _num(rng.uniform(0.2, 3000.0), rng.choice((1, 2)))
        grade = _num(rng.uniform(0.3, 90.0), 2)
        reason = None
        if i == bad:
            if rng.random() < 0.5:
                tonnes, reason = "0", "nonpositive_tonnes"
            else:
                grade, reason = _num(rng.uniform(1001.0, 5000.0), 2), "grade_out_of_range"
        contained = _num(rng.uniform(1.0, 9000.0), 0)
        lines.append(f"{cat} {tonnes} {grade} {contained}")
        row = {
            "category": cat,
            "tonnes": float(tonnes.replace(",", "")),
            "metal": sym,
            "grade_value": float(grade.replace(",", "")),
            "grade_unit": gunit.replace(" ", ""),
            "contained_metal": float(contained.replace(",", "")),
            "contained_unit": cunit,
            "tonnes_unit": tunit,
        }
        if reason is None:
            clean.append(row)
        else:
            bad_rows.append({**row, "reject_reason": reason})
    return header, lines, clean, bad_rows


def _filler_pool(rng: random.Random, n: int = 400) -> list[str]:
    """Prose lines that pages draw from: sampling whole lines keeps
    generation cheap next to the decode it feeds."""
    out = []
    for _ in range(n):
        words: list[str] = []
        while sum(len(w) + 1 for w in words) < CHARS_PER_LINE:
            words.append(rng.choice(FILLER))
        out.append(" ".join(words) + ".")
    return out


def _document(rng: random.Random, pool: list[str], pages: int):
    """One report as a list of pages (each a list of lines) plus its truth."""

    def fill(n: int) -> list[str]:
        return rng.choices(pool, k=n)

    name = f"{rng.choice(NAMES)} {rng.choice(NAMES)}"
    project = f"{name} {rng.choice(SUFFIX_PLACE)}"
    company = f"{rng.choice(NAMES)} {rng.choice(('Gold', 'Metals', 'Resources'))} {rng.choice(SUFFIX_CO)}"
    region, country = rng.choice(REGIONS), rng.choice(COUNTRIES)
    month, day, year = rng.randrange(12), rng.randint(1, 28), rng.randint(2012, 2025)
    date_txt = f"{MONTHS[month]} {day}, {year}"
    doc = [[] for _ in range(pages)]
    doc[0] = [
        f"NI 43-101 Technical Report for the {project}, {region}, {country}",
        f"prepared by {company}",
        f"effective {date_txt}",
    ] + fill(4)
    res_page, rsv_page, eco_page = rng.sample(range(3, pages), 3)
    doc[1] = [
        "Table of Contents",
        f"Table 14-1 {project} mineral resources effective .......... {res_page + 1}",
        f"Table 15-1 {project} mineral reserves effective .......... {rsv_page + 1}",
    ] + fill(6)
    rows: dict[str, list] = {"quarantine": []}
    for table, caption, cats, page in (
        ("mineral_resources", "Table 14-1", RESOURCE_CATS, res_page),
        ("mineral_reserves", "Table 15-1", RESERVE_CATS, rsv_page),
    ):
        hdr, lines, rows[table], bad = _table(rng, cats, rng.random() < 0.15)
        rows["quarantine"] += bad
        doc[page] = (
            fill(2)
            + [f"{caption} {project} {table.replace('_', ' ')} effective {date_txt}", hdr]
            + lines
            + ["."]  # ends the table; ten prose lines keep the next one out of its window
            + fill(10)
        )
    eco = {"capex": None, "opex": None, "npv": None, "irr": None, "currency": None}
    if rng.random() < 0.8:
        cur = rng.choice(("US$", "C$"))
        capex, opex = rng.randint(50, 2500), round(rng.uniform(8.0, 140.0), 2)
        npv, irr = rng.randint(40, 3000), round(rng.uniform(5.0, 60.0), 1)
        eco = {
            "capex": float(capex),
            "opex": opex,
            "npv": float(npv),
            "irr": irr,
            "currency": "USD" if cur == "US$" else "CAD",
        }
        doc[eco_page] = fill(3) + [
            f"Initial capital costs total {cur}{capex:,} million.",
            f"Site operating costs of {cur}{opex:.2f} per tonne milled.",
            f"The after-tax NPV is {cur}{npv:,} million and the IRR is {irr} percent.",
        ] + fill(10)
    else:
        doc[eco_page] = ["no economic analysis is presented for this operation."] + fill(12)
    for p in range(pages):
        if not doc[p]:
            doc[p] = fill(LINES_PER_PAGE)
    truth = {
        "project": {
            "project_name": project,
            "company": company,
            "country": country,
            "region": region,
            "report_date": f"{year:04d}-{month + 1:02d}-{day:02d}",
        },
        "economics": eco,
        **rows,
    }
    return doc, truth


# ------------------------------------------------------------------ writer


def _lit(text: str) -> bytes:
    return b"(" + text.encode("latin-1").replace(b"\\", b"\\\\").replace(
        b"(", b"\\("
    ).replace(b")", b"\\)") + b")"


_HEX_BASE = 0x0300  # hex-shown codes are ord(ch) + _HEX_BASE, never ord(ch)


def _hex(text: str) -> bytes:
    return b"<" + "".join(f"{ord(c) + _HEX_BASE:04X}" for c in text).encode() + b">"


@functools.lru_cache(maxsize=8192)
def _show(line: str, mode: str) -> bytes:
    """One line's show operator: ``<hex> Tj``, ``(lit) Tj``, or a ``TJ``
    array with a small intra-word kern (no space) and word-gap kerns."""
    if mode == "hex":
        return _hex(line) + b" Tj 0 -14 Td"
    if mode == "lit":
        return _lit(line) + b" Tj 0 -14 Td"
    parts = []
    for w in line.split(" "):
        mid = len(w) // 2
        parts.append(_lit(w[:mid]) + b" -20 " + _lit(w[mid:]) if mid else _lit(w))
    return b"[" + b" -250 ".join(parts) + b"] TJ T*"


def _content(lines: list[str], mode: str, rng: random.Random) -> bytes:
    """Content stream for one text page: one show operator per line; in
    literal mode about a third of the lines are ``TJ`` arrays."""
    ops = [b"BT /F1 10 Tf 72 740 Td 12 TL"]
    for line in lines:
        m = mode if mode == "hex" or rng.random() >= 0.3 else "tj"
        ops.append(_show(line, m))
    ops.append(b"ET")
    return b"\n".join(ops)


def _cmap() -> bytes:
    """ToUnicode CMap for ``_hex``: one bfrange over printable ASCII."""
    lo, hi = 0x20 + _HEX_BASE, 0x7E + _HEX_BASE
    return (
        b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n"
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        + f"1 beginbfrange <{lo:04X}> <{hi:04X}> <0020> endbfrange\n".encode()
        + b"endcmap end end"
    )


def _raster(rng: random.Random, n: int) -> bytes:
    # 'T' (0x54) never appears, so no raster can hold a Tj/TJ operator
    return bytes(b if b != 0x54 else 0x55 for b in rng.randbytes(n))


def write_pdf(pages: list[list[str]] | int, mode: str, rng: random.Random) -> bytes:
    """Serialize one document. ``mode`` is ``lit``, ``hex`` or ``scan``;
    a scan takes a page count and draws one image per page."""
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    def stream(data: bytes, extra: bytes = b"") -> int:
        z = zlib.compress(data, 6)
        return add(
            b"<< /Length %d /Filter /FlateDecode%s >>\nstream\n%s\nendstream"
            % (len(z), extra, z)
        )

    catalog = add(b"")
    root = add(b"")
    n_pages = pages if isinstance(pages, int) else len(pages)
    if mode == "scan":
        res = b""
    elif mode == "hex":
        cmap = stream(_cmap())
        font = add(
            b"<< /Type /Font /Subtype /Type0 /BaseFont /ReportSans "
            b"/Encoding /Identity-H /ToUnicode %d 0 R >>" % cmap
        )
        res = b"/Font << /F1 %d 0 R >>" % font
    else:
        font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman >>")
        res = b"/Font << /F1 %d 0 R >>" % font
    kids = []
    for p in range(n_pages):
        if mode == "scan":
            img = stream(
                _raster(rng, 800),
                b" /Type /XObject /Subtype /Image /Width 40 /Height 20 "
                b"/ColorSpace /DeviceGray /BitsPerComponent 8",
            )
            contents = stream(b"q 612 0 0 792 0 0 cm /Im0 Do Q")
            page_res = b"/XObject << /Im0 %d 0 R >>" % img
        else:
            contents = stream(_content(pages[p], mode, rng))
            page_res = res
        kids.append(
            add(
                b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
                b"/Contents %d 0 R /Resources << %s >> >>" % (root, contents, page_res)
            )
        )
    objs[catalog - 1] = b"<< /Type /Catalog /Pages %d 0 R >>" % root
    objs[root - 1] = b"<< /Type /Pages /Kids [%s] /Count %d >>" % (
        b" ".join(b"%d 0 R" % k for k in kids),
        n_pages,
    )
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % o for o in offsets)
    out += b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1,
        catalog,
        xref,
    )
    return bytes(out)


def write(
    out_dir: str,
    seed: int,
    docs: int,
    min_pages: int = 40,
    max_pages: int = 160,
) -> dict:
    """Write ``docs`` PDFs into ``out_dir`` and return the truth: per
    doc_id (sha256 of the file, as the pipeline computes it), the
    planted rows, or ``None`` for a scan with no text layer."""
    rng = random.Random(seed)
    pool = _filler_pool(rng)
    os.makedirs(out_dir, exist_ok=True)
    truth: dict[str, dict | None] = {}
    total = 0
    sizes = [min_pages + (max_pages - min_pages) * i // max(1, docs - 1) for i in range(docs)]
    scans = round(docs / 7)
    hexes = round((docs - scans) / 5)
    modes = ["scan"] * scans + ["hex"] * hexes + ["lit"] * (docs - scans - hexes)
    rng.shuffle(sizes)
    rng.shuffle(modes)
    for i, (pages, mode) in enumerate(zip(sizes, modes)):
        if mode == "scan":
            data, t = write_pdf(pages, "scan", rng), None
        else:
            doc, t = _document(rng, pool, pages)
            data = write_pdf(doc, mode, rng)
        with open(os.path.join(out_dir, f"report-{i:05d}.pdf"), "wb") as f:
            f.write(data)
        total += len(data)
        truth[hashlib.sha256(data).hexdigest()] = t
    return {"docs": truth, "bytes": total}

