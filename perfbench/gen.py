"""Seeded input generator for the importer/curation benchmark.

Every byte the program reads comes from here: the same (workload, seed)
always yields byte-identical files. Next to the inputs it writes the
mapping YAML the program is given and `expected.json`, the values the
generator planted, which the JVM side checks the written records
against.

    python3 perfbench/gen.py <workload> <seed> <outdir>
"""

import hashlib
import io
import json
import os
import random
import sys
import zipfile

# ------------------------------------------------------------------ sizes
# Fixed per workload; stated in BENCHMARK.json and perfbench/README.md.

TABULAR_CSV_FILES = 3
TABULAR_CSV_ROWS = 2000          # data rows per delimited file
TABULAR_FW_ROWS = 2000           # rows in the fixed-width file

DROPS = 4                        # zip drops the batches cycle through
DROP_CSV_FILES = 2
DROP_ROWS = 40                   # rows / records per file inside a drop

CURATE_CHAINS = 30               # planted near-duplicate chains
CURATE_CHAIN_LEN = 16            # docs per chain (one word edit per step)
CURATE_SINGLES = 600             # unrelated docs
CURATE_EXACT_DUPS = 30           # byte-identical copies of earlier docs
CURATE_CONTAMINATED = 20         # docs carrying a benchmark 12-gram
CURATE_WORDS = 120               # words per doc
CURATE_STRATA = ("news", "forum", "wiki", "code")

ZIP_TIME = (2020, 1, 1, 0, 0, 0)

# ------------------------------------------------------------- vocabulary

_SYL = ("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ba", "de", "fi",
        "go", "hu", "ja", "ke", "li", "mo", "nu", "pe", "qui", "ra", "si",
        "tu", "wa", "ye", "zo")


def _word(rng, lo=2, hi=4):
    return "".join(rng.choice(_SYL) for _ in range(rng.randint(lo, hi)))


def _names(rng, n):
    out = set()
    while len(out) < n:
        out.add(_word(rng).upper())
    return sorted(out)


def _date(rng, y0, y1):
    return (rng.randint(y0, y1), rng.randint(1, 12), rng.randint(1, 28))


def _write(path, data):
    mode = "wb" if isinstance(data, bytes) else "w"
    kw = {} if isinstance(data, bytes) else {"encoding": "utf-8", "newline": ""}
    with open(path, mode, **kw) as f:
        f.write(data)


def _zip(entries):
    """Deterministic zip: fixed timestamps, entries in the given order."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in entries:
            info = zipfile.ZipInfo(name, date_time=ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, data)
    return buf.getvalue()


# ---------------------------------------------------------- import_tabular

TABULAR_COLUMNS = (
    "nhs_number", "surname", "forenames", "birth_date", "sex", "postcode",
    "address_1", "address_2", "hospital_number", "local_id",
    "diagnosis_date", "icd_code", "behaviour", "tumour_size",
    "treatment_code", "treatment_date", "treatment_notes", "provider")

TABULAR_YAML = r"""- canonical_name: registry
  filename_pattern: !ruby/regexp /\.csv\z/i
  header_lines: 1
  footer_lines: 1
  columns:
  - column: nhs_number
    klass:
    - Patient
    - Tumour
    mappings:
    - field: nhsnumber
      clean: :nhsnumber
  - column: surname
    klass: Patient
    mappings:
    - field: surname
      clean: :name
  - column: forenames
    klass: Patient
    mappings:
    - field: forenames
      clean: :name
  - column: birth_date
    klass: Patient
    mappings:
    - field: birthdate
      format: dd/mm/yyyy
  - column: sex
    klass: Patient
    mappings:
    - field: sex
      map:
        M: '1'
        F: '2'
        U: '9'
  - column: postcode
    klass: Patient
    mappings:
    - field: postcode
      clean: :postcode
  - column: address_1
    klass: Patient
    mappings:
    - field: address
      order: 1
      join: ', '
  - column: address_2
    klass: Patient
    mappings:
    - field: address
      order: 2
  - column: hospital_number
    klass: Patient
    mappings:
    - field: hospitalnumber
      priority: 1
      clean: :hospitalnumber
  - column: local_id
    klass: Patient
    mappings:
    - field: hospitalnumber
      priority: 2
  - column: diagnosis_date
    klass: Tumour
    mappings:
    - field: diagnosisdate
      format: yyyymmdd
  - column: icd_code
    klass: Tumour
    mappings:
    - field: icd
      clean: :icd
  - column: behaviour
    klass: Tumour
    mappings:
    - field: behaviour
      map:
        '1': benign
        '2': in situ
        '3': malignant
  - column: tumour_size
    klass: Tumour
    mappings:
    - field: size
  - column: treatment_code
    klass: Treatment
    mappings:
    - field: opcs
      clean: :code_opcs
  - column: treatment_date
    klass: Treatment
    mappings:
    - field: treatmentdate
      format: dd/mm/yyyy
  - column: treatment_notes
    klass: Treatment
    mappings:
    - field: notes
      replace:
        ? !ruby/regexp /\s+/
        : ' '
  - column: provider
    klass: Treatment
    mappings:
    - field: provider
      clean: :upcase
"""

# Fixed-width extract: the unpack widths and the field each slice maps to.
FW_LAYOUT = (("nhs_number", 10), ("surname", 20), ("birth_date", 8),
             ("icd_code", 6), ("diagnosis_date", 8), ("behaviour", 1))

FIXED_WIDTH_YAML = r"""- canonical_name: registry_fw
  klass: Registration
  columns:
  - column: nhs_number
    unpack_pattern: A10
    mappings:
    - field: nhsnumber
      clean: :nhsnumber
  - column: surname
    unpack_pattern: A20
    mappings:
    - field: surname
      clean: :name
  - column: birth_date
    unpack_pattern: A8
    mappings:
    - field: birthdate
      format: yyyymmdd
  - column: icd_code
    unpack_pattern: A6
    mappings:
    - field: icd
      clean: :icd
  - column: diagnosis_date
    unpack_pattern: A8
    mappings:
    - field: diagnosisdate
      format: yyyymmdd
  - column: behaviour
    unpack_pattern: A1
    mappings:
    - field: behaviour
"""


def _registry_row(rng, surnames, forenames):
    nhs = "".join(str(rng.randint(0, 9)) for _ in range(10))
    if rng.random() < 0.3:
        nhs = f"{nhs[:3]} {nhs[3:6]} {nhs[6:]}"
    by, bm, bd = _date(rng, 1930, 2005)
    dy, dm, dd = _date(rng, 2010, 2023)
    ty, tm, td = _date(rng, 2010, 2023)
    street = f"{rng.randint(1, 200)} {rng.choice(surnames).title()} Road"
    if rng.random() < 0.4:
        street += f", Flat {rng.randint(1, 9)}"
    notes = " ".join(_word(rng) for _ in range(rng.randint(2, 6)))
    if rng.random() < 0.5:
        notes = notes.replace(" ", "   ", 1)
    return [
        nhs,
        rng.choice(surnames) if rng.random() > 0.05 else "",
        " ".join(rng.choice(forenames) for _ in range(rng.randint(1, 2))),
        f"{bd:02d}/{bm:02d}/{by}",
        rng.choice("MFFMU"),
        f"{rng.choice('ABLMNS')}{rng.choice('BDEFGHLMNS')}{rng.randint(1, 20)} "
        f"{rng.randint(1, 9)}{rng.choice('ABDEFGHJLN')}{rng.choice('PQRSTUWXYZ')}",
        street,
        rng.choice(("", "", "Leeds", "York", "Bath")),
        f"H{rng.randint(100000, 999999)}" if rng.random() < 0.7 else "",
        f"L{rng.randint(1000, 9999)}",
        f"{dy}{dm:02d}{dd:02d}",
        f"C{rng.randint(0, 97):02d}.{rng.randint(0, 9)}",
        rng.choice("123"),
        str(rng.randint(1, 120)),
        f"{rng.choice('ABEHJKLMQTWX')}{rng.randint(10, 99)}.{rng.randint(0, 9)}",
        f"{td:02d}/{tm:02d}/{ty}",
        notes,
        rng.choice(("rr8", "rx1", "rgt", "rtd")),
    ]


def _csv_cell(v):
    return f'"{v}"' if ("," in v or '"' in v) else v


def gen_import_tabular(rng, out):
    surnames, forenames = _names(rng, 400), _names(rng, 300)
    files = []
    for i in range(TABULAR_CSV_FILES):
        lines = [",".join(TABULAR_COLUMNS)]
        for _ in range(TABULAR_CSV_ROWS):
            lines.append(",".join(_csv_cell(v) for v in
                                  _registry_row(rng, surnames, forenames)))
        lines.append(f"TOTAL,{TABULAR_CSV_ROWS}")
        name = f"extract_{i + 1}.csv"
        _write(os.path.join(out, name), "\n".join(lines) + "\n")
        files.append(name)
    fw = []
    for _ in range(TABULAR_FW_ROWS):
        r = _registry_row(rng, surnames, forenames)
        by = r[3][6:] + r[3][3:5] + r[3][0:2]
        vals = (r[0].replace(" ", ""), r[1], by, r[11], r[10], r[12])
        fw.append("".join(v.ljust(w)[:w] for v, (_, w) in zip(vals, FW_LAYOUT)))
    _write(os.path.join(out, "extract_fw.dat"), "\n".join(fw) + "\n")
    _write(os.path.join(out, "mapping.yaml"), TABULAR_YAML)
    _write(os.path.join(out, "mapping_fw.yaml"), FIXED_WIDTH_YAML)
    return {"csv": files, "fixed_width": "extract_fw.dat",
            "csv_rows": TABULAR_CSV_ROWS, "fw_rows": TABULAR_FW_ROWS}


# ------------------------------------------------------- import_mixed_drops

def _tabular_yaml(pattern, extra=""):
    return (f"- canonical_name: drop\n"
            f"  filename_pattern: !ruby/regexp /{pattern}/i\n{extra}"
            "  klass: Referral\n  columns:\n"
            "  - column: ref_id\n    mappings:\n    - field: ref_id\n"
            "  - column: site\n    mappings:\n    - field: site\n"
            "  - column: code\n    mappings:\n    - field: code\n")


def _segment_yaml(pattern, fmt, klass):
    return (f"- canonical_name: drop\n"
            f"  filename_pattern: !ruby/regexp /{pattern}/i\n"
            f"  format: {fmt}\n"
            "  start_line_pattern: !ruby/regexp /\\AREPORT /\n"
            "  capture_start_line: true\n"
            "  end_in_a_record: true\n"
            f"  klass: {klass}\n  columns:\n"
            "  - column: report_id\n    non_tabular_cell:\n      lines: 0\n"
            "      capture: !ruby/regexp /\\AREPORT (\\w+)/\n"
            "    mappings:\n    - field: report_id\n"
            "  - column: patient\n    non_tabular_cell:\n      lines: 1\n"
            "      capture: !ruby/regexp /\\APATIENT (.+)\\z/\n"
            "    mappings:\n    - field: patient\n"
            "  - column: finding\n    non_tabular_cell:\n      lines: 2\n"
            "      capture: !ruby/regexp /\\AFINDING (.+)\\z/\n"
            "    mappings:\n    - field: finding\n")


XML_YAML = r"""- canonical_name: drop
  filename_pattern: !ruby/regexp /\.xml\z/i
  format: xml_table
  xml_record_xpath: record
  klass: Pathology
  columns:
  - column: meta
    xml_cell:
      relative_path: ''
      attribute: id
    mappings:
    - field: record_id
  - column: patient
    xml_cell:
      relative_path: ''
    mappings:
    - field: patient
  - column: sample
    xml_cell:
      relative_path: samples
      multiple: true
      build_new_record: false
      increment_field_name: true
    mappings:
    - field: code
"""

MIXED_YAML = "".join((
    _tabular_yaml(r"\.csv\z", "  header_lines: 1\n"),
    _tabular_yaml(r"\.xlsx\z", "  tablename_pattern: !ruby/regexp /\\AData\\z/\n"
                                "  header_lines: 1\n"),
    _tabular_yaml(r"\.jsonl\z"),
    _segment_yaml(r"\.txt\z", "nontabular", "TextReport"),
    _segment_yaml(r"\.docx\z", "docx", "WordReport"),
    _segment_yaml(r"\.pdf\z", "pdf", "PdfReport"),
    XML_YAML,
))


def _xml_escape(v):
    return v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _xlsx(sheets):
    """Minimal inline-string workbook: [(sheet name, rows)]."""
    def col(c):
        return chr(ord("A") + c)
    wb = ('<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
          ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
          "<sheets>" + "".join(
              f'<sheet name="{n}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
              for i, (n, _) in enumerate(sheets)) + "</sheets></workbook>")
    rels = ('<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(f'<Relationship Id="rId{i + 1}" Type="x" '
                      f'Target="worksheets/sheet{i + 1}.xml"/>'
                      for i in range(len(sheets))) + "</Relationships>")
    entries = [("xl/workbook.xml", wb), ("xl/_rels/workbook.xml.rels", rels)]
    for i, (_, rows) in enumerate(sheets):
        body = "".join(
            f'<row r="{r + 1}">' + "".join(
                f'<c r="{col(c)}{r + 1}" t="inlineStr"><is><t>{_xml_escape(v)}</t></is></c>'
                for c, v in enumerate(cells)) + "</row>"
            for r, cells in enumerate(rows))
        entries.append((f"xl/worksheets/sheet{i + 1}.xml",
                        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                        f"<sheetData>{body}</sheetData></worksheet>"))
    return _zip(entries)


def _docx(lines):
    doc = ('<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>'
           + "".join(f"<w:p><w:r><w:t>{_xml_escape(l)}</w:t></w:r></w:p>" for l in lines)
           + "</w:body></w:document>")
    return _zip([("word/document.xml", doc)])


def _pdf(lines):
    """Uncompressed text-only PDF, one content stream per 50-line page."""
    def esc(v):
        return v.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    out = ["%PDF-1.4\n"]
    for pi in range(0, len(lines), 50):
        body = "BT 0 780 Td " + "".join(
            f"({esc(l)}) Tj 0 -12 Td " for l in lines[pi:pi + 50]) + "ET"
        out.append(f"{pi // 50 + 1} 0 obj << /Length {len(body)} >> stream\n"
                   f"{body}\nendstream\nendobj\n")
    out.append("%%EOF\n")
    return "".join(out).encode("latin-1")


def _report_lines(rng, prefix, n, klass, basename, expected):
    lines = []
    for i in range(n):
        rid = f"{prefix}{i:04d}"
        patient = f"{_word(rng).upper()} {_word(rng).upper()}"
        finding = " ".join(_word(rng) for _ in range(2 + i % 4))
        lines += [f"REPORT {rid}", f"PATIENT {patient}", f"FINDING {finding}"]
        expected.append([basename, klass, {"report_id": rid, "patient": patient,
                                           "finding": finding}])
    return lines


def _referrals(rng, prefix, basename, expected):
    rows = []
    for i in range(DROP_ROWS):
        r = [f"{prefix}{i:04d}", rng.choice(("RR8", "RX1", "RGT", "RTD")),
             f"C{rng.randint(0, 97):02d}"]
        rows.append(r)
        expected.append([basename, "Referral",
                         dict(zip(("ref_id", "site", "code"), r))])
    return rows


def _drop(rng, d):
    expected, entries = [], []
    for i in range(DROP_CSV_FILES):
        name = f"referrals_{d}_{i}.csv"
        rows = _referrals(rng, f"R{d}{i}", name, expected)
        entries.append((f"csv/{name}", "ref_id,site,code\n" +
                        "".join(",".join(r) + "\n" for r in rows)))
    name = f"referrals_{d}.xlsx"
    rows = _referrals(rng, f"X{d}", name, expected)
    notes = [["note"], ["not mapped: routed away by tablename_pattern"]]
    entries.append((f"office/{name}",
                    _xlsx([("Data", [["ref_id", "site", "code"]] + rows),
                           ("Notes", notes)])))
    name = f"referrals_{d}.jsonl"
    rows = _referrals(rng, f"J{d}", name, expected)
    entries.append((name, "".join(json.dumps(dict(zip(("ref_id", "site", "code"), r)),
                                             separators=(",", ":")) + "\n" for r in rows)))
    name = f"reports_{d}.txt"
    lines = ["MONTHLY REPORT EXTRACT"] + _report_lines(
        rng, f"T{d}", DROP_ROWS, "TextReport", name, expected)
    entries.append((f"text/{name}", "\n".join(lines) + "\n"))
    name = f"letters_{d}.docx"
    entries.append((f"office/{name}", _docx(_report_lines(
        rng, f"W{d}", DROP_ROWS, "WordReport", name, expected))))
    name = f"scans_{d}.pdf"
    entries.append((name, _pdf(_report_lines(
        rng, f"P{d}", DROP_ROWS, "PdfReport", name, expected))))
    name = f"pathology_{d}.xml"
    recs = []
    for i in range(DROP_ROWS):
        rid = f"M{d}{i:04d}"
        patient = f"{_word(rng).upper()} {_word(rng).upper()}"
        codes = [f"S{rng.randint(10, 99)}" for _ in range(1 + i % 3)]
        recs.append(f'<record><meta id="{rid}"/><patient>{patient}</patient><samples>' +
                    "".join(f"<sample>{c}</sample>" for c in codes) +
                    "</samples></record>")
        fields = {"record_id": rid, "patient": patient}
        # a lone repeat keeps the plain field name; repeats are numbered
        if len(codes) == 1:
            fields["code"] = codes[0]
        else:
            fields.update({f"code_{k + 1}": c for k, c in enumerate(codes)})
        expected.append([name, "Pathology", fields])
    entries.append((name, "<root>" + "".join(recs) + "</root>\n"))
    return _zip(entries), expected


def gen_import_mixed_drops(rng, out):
    drops, expected = [], {}
    for d in range(DROPS):
        data, exp = _drop(rng, d)
        name = f"drop_{d}.zip"
        _write(os.path.join(out, name), data)
        drops.append(name)
        expected[name] = exp
    _write(os.path.join(out, "mapping.yaml"), MIXED_YAML)
    return {"drops": drops, "expected": expected}


# -------------------------------------------------------------- curate_near
#
# The chains are planted against the program's own near-duplicate test,
# replicated here: a 32-bit SimHash (`SimhashScan.scan` with wideHash: md5
# of each space-separated token, low 32 bits of its first 7 bytes), and a
# pair is a near duplicate at hamming distance <= 3
# (`TextDedup.simhashPairs`). 32 bits is `4 * simhashWidthFor(n)` for
# n <= 16,384 unique docs. Each chain is a path: every doc is a near
# duplicate of its predecessor and of no other doc in the corpus, so every
# chain has exactly CURATE_CHAIN_LEN - 1 hops for every seed, and the
# connected-components loop runs the same number of rounds on every seed.

SIMHASH_BITS = 32
NEAR_HAMMING = 3


_TOKEN_BITS = {}  # token -> its +1/-1 vote per signature bit


def _token_bits(token):
    v = _TOKEN_BITS.get(token)
    if v is None:
        h = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:7], "big")
        v = _TOKEN_BITS[token] = tuple(1 if (h >> b) & 1 else -1 for b in range(SIMHASH_BITS))
    return v


def _sums(words):
    sums = [0] * SIMHASH_BITS
    for w in words:
        for b, x in enumerate(_token_bits(w)):
            sums[b] += x
    return sums


def _sig(sums):
    return sum(1 << b for b, x in enumerate(sums) if x > 0)


def gen_curate_near(rng, out):
    vocab = sorted({_word(rng, 2, 4) for _ in range(6000)})
    bench_vocab = sorted({"b" + _word(rng, 2, 3) for _ in range(400)})
    bench = [" ".join(rng.choice(bench_vocab) for _ in range(40)) for _ in range(20)]
    sigs = []  # signature of every doc so far

    def near(sig):
        return [j for j, t in enumerate(sigs) if bin(sig ^ t).count("1") <= NEAR_HAMMING]

    def fresh():
        # scattered punctuation spreads the quality score, so the
        # calibrated gate ranks docs instead of tying them all
        words = [rng.choice(vocab) for _ in range(CURATE_WORDS)]
        for _ in range(rng.randint(0, 15)):
            k = rng.randrange(CURATE_WORDS)
            words[k] += rng.choice(".,;")
        return words

    def lone(make):
        # a doc that is a near duplicate of no doc so far
        while True:
            words = make()
            sig = _sig(_sums(words))
            if not near(sig):
                sigs.append(sig)
                return " ".join(words)

    texts, chains = [], []
    for _ in range(CURATE_CHAINS):
        words = fresh()
        chain = [len(texts)]
        texts.append(lone(lambda: words))
        sums = _sums(words)
        cand, cs = list(words), list(sums)
        while len(chain) < CURATE_CHAIN_LEN:
            # word edits on a copy of the predecessor, one at a time, until
            # the copy is 2-3 bits from it and a near duplicate of nothing
            # else; a copy that drifts past 3 bits starts over
            k = rng.randrange(CURATE_WORDS)
            new = rng.choice(vocab)
            for b, (x, y) in enumerate(zip(_token_bits(cand[k]), _token_bits(new))):
                cs[b] += y - x
            cand[k] = new
            sig = _sig(cs)
            d = bin(sig ^ sigs[chain[-1]]).count("1")
            if d > NEAR_HAMMING:
                cand, cs = list(words), list(sums)
            elif d >= 2 and near(sig) == [chain[-1]]:
                words, sums = cand, cs
                cand, cs = list(words), list(sums)
                chain.append(len(texts))
                sigs.append(sig)
                texts.append(" ".join(words))
        chains.append(chain)
    singles = []
    for _ in range(CURATE_SINGLES):
        singles.append(len(texts))
        texts.append(lone(fresh))
    contaminated = []

    def tainted():
        words, b = fresh(), rng.choice(bench).split(" ")
        at, src = rng.randrange(CURATE_WORDS - 12), rng.randrange(len(b) - 12)
        words[at:at + 12] = b[src:src + 12]
        return words
    for _ in range(CURATE_CONTAMINATED):
        contaminated.append(len(texts))
        texts.append(lone(tainted))
    assert len(texts) <= 64 << 8, "more unique docs than a 32-bit signature covers"
    # exact copies of unrelated docs: the exact-dedup keeper (min id) never
    # changes a chain member's id
    dups = []
    for _ in range(CURATE_EXACT_DUPS):
        src = rng.choice(singles)
        dups.append([src, len(texts)])
        texts.append(texts[src])
    # ids are a seeded permutation so chain members are not id-adjacent;
    # each chain's ids then ascend along the chain, so its minimum id sits
    # at one end, CURATE_CHAIN_LEN - 1 hops from the other
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)
    for chain in chains:
        for i, v in zip(chain, sorted(ids[i] for i in chain)):
            ids[i] = v
    with open(os.path.join(out, "corpus.jsonl"), "w", encoding="utf-8", newline="") as f:
        for i, t in enumerate(texts):
            f.write(json.dumps({"id": ids[i], "text": t,
                                "stratum": CURATE_STRATA[i % len(CURATE_STRATA)]},
                               separators=(",", ":")) + "\n")
    with open(os.path.join(out, "benchmark.jsonl"), "w", encoding="utf-8", newline="") as f:
        for t in bench:
            f.write(json.dumps({"text": t}, separators=(",", ":")) + "\n")
    return {"docs": len(texts), "lexicon": ["zzblocked", "zzspam"],
            "chains": [[ids[i] for i in c] for c in chains],
            "contaminated": sorted(ids[i] for i in contaminated),
            "exact_dups": [[ids[a], ids[b]] for a, b in dups]}


GENERATORS = {
    "import_tabular": gen_import_tabular,
    "import_mixed_drops": gen_import_mixed_drops,
    "curate_near": gen_curate_near,
}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = random.Random(f"{workload}:{seed}")
    expected = GENERATORS[workload](rng, out)
    _write(os.path.join(out, "expected.json"),
           json.dumps(expected, sort_keys=True, separators=(",", ":")))
    return expected


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
