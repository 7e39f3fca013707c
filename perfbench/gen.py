#!/usr/bin/env python3
"""Seeded input generator for the statement -> report benchmark.

Writes, under an output directory:

  vendor_mappings.db   SQLite file with the reference `vendor_mappings` DDL
                       (the schema tools/make_sqlite_fixture.py uses), ~500 rows
  coa.pdf              chart of accounts: one whitespace-aligned code table per
                       page (funder, GL, location, program, department)
  <batch>/*.pdf        statement PDFs: 1 summary page, 3 "Transaction Details"
                       pages of 30 rows each, 2 disclosure prose pages, all
                       FlateDecode Courier text. monthly_close has 12
                       batches of 3 statements; statement_archive has one of
                       64, plus three 3-statement `warmup_*` batches
  manifest.json        per batch: expected transaction count, exact amount sum
                       in cents, exact/fuzzy/none match counts, and the expected
                       enrichment payload per vendor string; plus the COA
                       dropdown lists the workbook must carry

Row mix per statement: ~60% vendors that equal a mapping exactly, ~25% that
are only contained in a mapping (the fuzzy phase), ~12% unmapped, ~3%
`PAYMENT THANK YOU` rows the parser drops; ~10% of rows sit in the Credits
column and parse as negative amounts.

The PDF writer follows the object layout of the test-scope PDF writer
(catalog, page tree, one Courier font, one content stream per page).

    python3 perfbench/gen.py --workload monthly_close --seed 7 --out DIR
    python3 perfbench/gen.py --self-check
"""
import argparse
import hashlib
import json
import os
import random
import sqlite3
import zlib

ROWS_PER_PAGE = 30
DETAIL_PAGES = 3
STATEMENTS_PER_MONTH = 3
MONTHS = 12
ARCHIVE_STATEMENTS = 64
N_MAPPINGS = 500

# Courier 10 pt: every glyph advances 6 pt, so each x1 is x0 + 6 * len.
FONT = 10
GLYPH = 6.0
CREDITS_X, CHARGES_X = 465, 540
CREDITS_X1 = CREDITS_X + GLYPH * len("Credits")   # 507: credit amounts end here
CHARGES_X1 = CHARGES_X + GLYPH * len("Charges")   # 582: charge amounts end here

# Pinned by --self-check: seed 1, monthly_close.
SELF_CHECK_TXNS = 3137
SELF_CHECK_FIRST_SHA256 = "09f1abde62fa4432736aee2930debee17914ce73ab91ec1324102ef991df58a0"

ADJ = ("BLUE NORTH SOUTH EAST WEST GRAND UNITED CENTRAL SUMMIT PIONEER "
       "GOLDEN SILVER RIVER HARBOR VALLEY MAPLE CEDAR OAK PINE LAKESIDE "
       "METRO CITY COUNTY STATE ATLAS BEACON CRESCENT EVERGREEN FRONTIER "
       "HERITAGE LIBERTY MERIDIAN PACIFIC ATLANTIC PRAIRIE").split()
NOUN = ("COFFEE HARDWARE OFFICE PRINT FREIGHT CATERING FLORAL AUTO BOOK "
        "ELECTRIC PLUMBING LUMBER GROCERY PHARMACY TECH SOFTWARE PAPER "
        "CLEANING SECURITY TRAVEL HOTEL FUEL MEDICAL DENTAL LEGAL MEDIA "
        "SIGN UNIFORM SPORTS GARDEN").split()
KIND = ("SUPPLY CO INC LLC SERVICES GROUP OUTLET DEPOT MARKET STORE "
        "PARTNERS WORKS SOLUTIONS CENTER SHOP").split()
# Unmapped vendors come from a vocabulary disjoint from the mapping names;
# each candidate is still checked to be contained in no mapping.
ODD = ("ZYLOQ VANTRIX QUOMBA FYNTEL JOVARI KESTROM PLUVAX WRENDO "
       "YSOLDE TUXARO GRIMSBY NOVELLO HOLTZ BRAXEN DUVALL").split()

PROSE = ("the cardholder agreement governs this account interest is charged "
         "on purchases from the transaction date unless the balance is paid "
         "in full by the due date minimum payment warnings apply see reverse "
         "for billing rights and how to report errors within sixty days").split()

COA = {
    "funder": ("Funder Code", "Funder Name", 4,
               ["State Grant", "Federal Grant", "Foundation A", "Foundation B",
                "Private Donor", "County Fund"]),
    "gl": ("GL Code", "Account", 5,
           ["Office Supplies", "Postage", "Printing", "Travel", "Meals",
            "Lodging", "Fuel", "Vehicle Repair", "Software", "Hardware",
            "Telephone", "Internet", "Utilities", "Rent", "Insurance",
            "Legal Fees", "Audit Fees", "Training", "Dues", "Subscriptions",
            "Advertising", "Catering", "Cleaning", "Security", "Uniforms",
            "Medical Supplies", "Books", "Event Costs", "Freight",
            "Equipment Rental", "Furniture", "Maintenance", "Bank Fees",
            "Consultants", "Contract Labor", "Licenses", "Signage",
            "Program Supplies", "Garden Supplies", "Sports Equipment"]),
    "location": ("Loc Code", "Location", 2,
                 ["Main Office", "North Site", "South Site", "Warehouse",
                  "Downtown", "Annex", "Field Office", "Remote"]),
    "program": ("Prog Code", "Program", 3,
                ["Youth Services", "Adult Education", "Housing",
                 "Food Bank", "Health Outreach", "Arts", "Seniors"]),
    "dept": ("Dept Code", "Department", 3,
             ["Administration", "Finance", "Operations", "Outreach",
              "Facilities", "Human Resources"]),
}
# report column each COA code type feeds as a dropdown
DROPDOWN_COLUMN = {"gl": "GL_Account", "location": "Location",
                   "program": "Program", "funder": "Funder",
                   "dept": "Department"}


def pdf_string(s):
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def make_pdf(page_streams):
    """Classic-object PDF: 1 catalog, 2 page tree, 3 Courier font, then the
    page objects, then one FlateDecode content stream per page."""
    out = bytearray(b"%PDF-1.4\n")
    n = len(page_streams)
    out += b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    kids = " ".join(f"{4 + i} 0 R" for i in range(n))
    out += (f"2 0 obj\n<< /Type /Pages /Kids [ {kids} ] /Count {n} "
            "/MediaBox [ 0 0 612 792 ] >>\nendobj\n").encode("latin-1")
    out += b"3 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>\nendobj\n"
    for i in range(n):
        out += (f"{4 + i} 0 obj\n<< /Type /Page /Parent 2 0 R "
                f"/Contents {4 + n + i} 0 R "
                "/Resources << /Font << /F1 3 0 R >> >> >>\nendobj\n").encode("latin-1")
    for i, cs in enumerate(page_streams):
        body = zlib.compress(cs.encode("latin-1"))
        out += (f"{4 + n + i} 0 obj\n<< /Length {len(body)} /Filter /FlateDecode >>\n"
                "stream\n").encode("latin-1")
        out += body
        out += b"\nendstream\nendobj\n"
    out += b"%%EOF\n"
    return bytes(out)


def at(x, y, text):
    return f"BT /F1 {FONT} Tf {x:g} {y:g} Td ({pdf_string(text)}) Tj ET"


def money(cents):
    return f"{cents // 100:,}.{cents % 100:02d}"


class Vendors:
    """The mapping table plus the three kinds of statement vendor strings,
    each with the enrichment payload the engine must attach to it."""

    def __init__(self, rng, coa_codes):
        names = set()
        self.rows = []   # (id, vendor, gl, location, program, funder, dept)
        while len(self.rows) < N_MAPPINGS:
            words = [rng.choice(ADJ), rng.choice(NOUN)]
            words += [rng.choice(KIND)] * rng.choice((0, 1, 1))
            if rng.random() < 0.5:
                words.insert(0, rng.choice(ADJ))
            name = " ".join(words)
            if name in names:
                continue
            names.add(name)
            self.rows.append((
                len(self.rows) + 1, name,
                rng.choice(coa_codes["gl"]), rng.choice(coa_codes["location"]),
                None if rng.random() < 0.1 else rng.choice(coa_codes["program"]),
                rng.choice(coa_codes["funder"]), rng.choice(coa_codes["dept"])))
        lowered = [(r[0], r[1].lower(), r) for r in self.rows]

        def payload(r):
            return [r[2], r[3], r[4] or "", r[5], r[6]]

        self.exact = [(r[1], payload(r)) for r in self.rows]
        # fuzzy: a strict word sub-span of a mapping that is not itself a
        # mapping; the expected payload is the lowest-id containing mapping
        fuzzy = {}
        for r in self.rows:
            ws = r[1].split()
            for i in range(len(ws)):
                for j in range(i + 1, len(ws) + 1):
                    sub = " ".join(ws[i:j])
                    if (j - i) < len(ws) and len(sub) >= 4 and sub not in names \
                            and sub not in fuzzy:
                        first = min(l for l in lowered if sub.lower() in l[1])
                        fuzzy[sub] = payload(first[2])
        self.fuzzy = sorted(fuzzy.items())
        none = []
        for a in ODD:
            for b in ODD:
                if a != b:
                    cand = f"{a} {b}"
                    if not any(cand.lower() in l[1] for l in lowered):
                        none.append((cand, ["", "", "", "", ""]))
        self.none = none

    def draw(self, rng):
        u = rng.random()
        if u < 0.60:
            return "exact", rng.choice(self.exact)
        if u < 0.85:
            return "fuzzy", rng.choice(self.fuzzy)
        if u < 0.97:
            return "none", rng.choice(self.none)
        return "payment", ("PAYMENT THANK YOU", None)


def statement_pdf(rng, vendors, month, truth):
    """One statement; updates `truth` with every row the parser must keep."""
    pages = []
    summary = [at(50, 740, "Account Summary"),
               at(50, 710, f"Statement Period {month:02d}/01 to {month:02d}/28")]
    for k, label in enumerate(("Previous Balance", "Payments", "Purchases",
                               "Fees Charged", "New Balance")):
        summary.append(at(50, 680 - 20 * k, label))
        summary.append(at(400, 680 - 20 * k, money(rng.randrange(100, 900000))))
    pages.append("\n".join(summary))
    for _ in range(DETAIL_PAGES):
        cs = [at(50, 740, "Transaction Details"),
              at(CREDITS_X, 710, "Credits"), at(CHARGES_X, 710, "Charges"),
              at(40, 695, "Trans"), at(80, 695, "Post"), at(115, 695, "Reference")]
        page_cents = 0
        for r in range(ROWS_PER_PAGE):
            y = 675 - 15 * r
            kind, (vendor, payload) = vendors.draw(rng)
            day = rng.randrange(1, 29)
            date = f"{month:02d}/{day:02d}"
            post = f"{month:02d}/{min(day + rng.randrange(0, 2), 28):02d}"
            ref = f"{rng.randrange(1000, 9999)}{rng.choice('ABCDEFGHJK')}{rng.choice('LMNPQRSTXY')}"
            cents = rng.randrange(100, 250000)
            credit = kind == "payment" or rng.random() < 0.10
            amount = money(cents)
            x1 = CREDITS_X1 if credit else CHARGES_X1
            cs += [at(40, y, date), at(80, y, post), at(120, y, ref),
                   at(170, y, vendor), at(x1 - GLYPH * len(amount), y, amount)]
            if kind == "payment":
                continue
            signed = -cents if credit else cents
            page_cents += signed
            truth["txns"] += 1
            truth["amount_cents"] += signed
            truth[kind] += 1
            truth["vendors"][vendor] = [kind] + payload
        total = money(abs(page_cents))
        cs += [at(40, 675 - 15 * ROWS_PER_PAGE, "Page Total"),
               at(CHARGES_X1 - GLYPH * len(total), 675 - 15 * ROWS_PER_PAGE, total)]
        pages.append("\n".join(cs))
    for _ in range(2):
        lines = [" ".join(rng.choice(PROSE) for _ in range(12)) for _ in range(34)]
        pages.append("\n".join(at(50, 740 - 20 * i, l) for i, l in enumerate(lines)))
    return make_pdf(pages)


def coa(rng):
    """COA codes per type and the PDF listing them, one table per page."""
    codes, pages, dropdowns = {}, [], {}
    for ctype, (code_head, name_head, width, names) in COA.items():
        lo = 10 ** (width - 1)
        picked = sorted(rng.sample(range(lo, 10 * lo), len(names)))
        rows = [(str(c), n) for c, n in zip(picked, names)]
        codes[ctype] = [c for c, _ in rows]
        cs = [at(50, 740, code_head), at(200, 740, name_head)]
        cs += [x for i, (c, n) in enumerate(rows)
               for x in (at(50, 725 - 15 * i, c), at(200, 725 - 15 * i, n))]
        pages.append("\n".join(cs))
        dropdowns[DROPDOWN_COLUMN[ctype]] = sorted(f"{c} - {n}" for c, n in rows)
    return codes, make_pdf(pages), dropdowns


def write_sqlite(path, rows):
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    con.execute("""
        CREATE TABLE vendor_mappings (
            id INTEGER PRIMARY KEY AUTOINCREMENT,
            vendor TEXT UNIQUE NOT NULL,
            gl_account TEXT,
            location TEXT,
            program TEXT,
            funder TEXT,
            department TEXT,
            created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
            updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
        )""")
    con.execute("CREATE INDEX idx_vendor_name ON vendor_mappings(vendor)")
    con.executemany(
        "INSERT INTO vendor_mappings (id, vendor, gl_account, location, program,"
        " funder, department, created_at, updated_at) VALUES (?,?,?,?,?,?,?,?,?)",
        [r + ("2024-01-01 10:00:00", "2024-06-30 23:59:59") for r in rows])
    con.commit()
    con.close()


def batches_of(workload):
    if workload == "monthly_close":
        return [(f"month_{m:02d}", m, STATEMENTS_PER_MONTH) for m in range(1, MONTHS + 1)]
    if workload == "statement_archive":
        # small batches for the untimed warm-up round, then the archive
        return [(f"warmup_{i}", 6, STATEMENTS_PER_MONTH) for i in range(1, 4)] + \
            [("archive", 6, ARCHIVE_STATEMENTS)]
    raise SystemExit(f"unknown workload {workload!r}")


def generate(workload, seed, out=None):
    """Build the corpus; write it under `out` unless None. Returns the
    manifest and the bytes of the first statement."""
    rng = random.Random(f"{workload}:{seed}")
    codes, coa_pdf, dropdowns = coa(rng)
    vendors = Vendors(rng, codes)
    manifest = {"workload": workload, "seed": seed, "dropdowns": dropdowns,
                "batches": []}
    first = None
    if out is not None:
        os.makedirs(out, exist_ok=True)
        write_sqlite(os.path.join(out, "vendor_mappings.db"), vendors.rows)
        with open(os.path.join(out, "coa.pdf"), "wb") as f:
            f.write(coa_pdf)
    for name, month, n in batches_of(workload):
        truth = {"name": name, "statements": n, "txns": 0, "amount_cents": 0,
                 "exact": 0, "fuzzy": 0, "none": 0, "vendors": {}}
        if out is not None:
            os.makedirs(os.path.join(out, name), exist_ok=True)
        for s in range(n):
            pdf = statement_pdf(rng, vendors, month, truth)
            if first is None:
                first = pdf
            if out is not None:
                with open(os.path.join(out, name, f"stmt_{s:04d}.pdf"), "wb") as f:
                    f.write(pdf)
        manifest["batches"].append(truth)
    if out is not None:
        with open(os.path.join(out, "manifest.json"), "w") as f:
            json.dump(manifest, f, sort_keys=True)
    return manifest, first


def self_check():
    manifest, first = generate("monthly_close", 1)
    txns = sum(b["txns"] for b in manifest["batches"])
    sha = hashlib.sha256(first).hexdigest()
    ok = txns == SELF_CHECK_TXNS and sha == SELF_CHECK_FIRST_SHA256
    return ok, txns, sha


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--out")
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if a.self_check:
        ok, txns, sha = self_check()
        print(json.dumps({"ok": ok, "txns": txns, "first_sha256": sha}))
        raise SystemExit(0 if ok else 1)
    m, _ = generate(a.workload, a.seed, a.out)
    print(json.dumps({b["name"]: b["txns"] for b in m["batches"]}))


if __name__ == "__main__":
    main()
