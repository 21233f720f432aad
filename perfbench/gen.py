"""Seeded input generators for the benchmark. Nothing is downloaded.

`bronze()` writes the three reference-shaped bronze inputs the pipeline reads,
laid out under `<base>/bronze/<dataset>/ingest_date=<date>/`, plus a CSV twin
of the school sheet that the DuckDB oracle reads:

  * housing2019-23.csv: ACS S2503 shape. A `Geography` label row comes first,
    some cells hold `(X)`, one county has a zero denominator and one a blank
    burden tier. Extra unused columns prove the projection.
  * school_performance.xlsx: one sheet, header row 0. Names go through shared
    strings, some through inline strings. `systemid`s are padded with spaces,
    some scores are null and one LEA repeats a `schoolid`.
  * special_education2022-23.csv: four metadata lines above the header
    (header offset 4). Some `State LEA ID`s repeat (the J1 left-join fan-out),
    one LEA is absent from the school data and one has `total_swd = 0`.

`suite_tables()` writes the star schema plus `events`, `documents` and
`embeddings` that the query registry reads, in the same column shapes.

The same seed always gives byte-identical files.
"""
import csv
import io
import math
import os
import random
import zipfile
from xml.sax.saxutils import escape

INGEST_DATE = "2024-01-01"

HOUSING_COLS = ["GEO_ID", "NAME", "S2503_C01_001E", "S2503_C01_002E",
                "S2503_C01_028E", "S2503_C01_032E", "S2503_C01_036E",
                "S2503_C01_040E", "S2503_C01_044E", "S2503_C02_001E"]
HOUSING_LABELS = ["Geography", "Geographic Area Name",
                  "Estimate!!Occupied housing units",
                  "Estimate!!Occupied housing units!!HOUSEHOLD INCOME!!Less than $5,000",
                  "Estimate!!Less than $20,000!!30 percent or more",
                  "Estimate!!$20,000 to $34,999!!30 percent or more",
                  "Estimate!!$35,000 to $49,999!!30 percent or more",
                  "Estimate!!$50,000 to $74,999!!30 percent or more",
                  "Estimate!!$75,000 or more!!30 percent or more",
                  "Margin of Error!!Occupied housing units"]
SCHOOL_COLS = ["schoolid", "schoolname", "systemid", "systemname",
               "single_score_23", "grade_cluster"]
SPECIAL_COLS = ["State LEA ID", "LEA Name", "School Age All Educational Environments",
                "School Age Inside regular class 80% or more of the day",
                "School Age Inside regular class 40% through 79% of the day",
                "School Year"]
SYLLABLES = ["ap", "ba", "bro", "cal", "chat", "dek", "el", "fay", "glyn", "ha",
             "jack", "lam", "mac", "nor", "ock", "pau", "rab", "sum", "tel", "wal"]


def lake_dir(base, dataset):
    return os.path.join(base, "bronze", dataset, f"ingest_date={INGEST_DATE}")


def county_names(rng, n):
    names, seen = [], set()
    while len(names) < n:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3))).capitalize()
        if w.lower() in seen:
            w += str(len(names))
        seen.add(w.lower())
        names.append(w)
    return names


def col_letter(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, header, rows):
    """Minimal OOXML workbook: shared strings for header and names, inline
    strings for every tenth name cell, numbers as `n` cells, None as no cell."""
    shared, index = [], {}

    def sidx(s):
        if s not in index:
            index[s] = len(shared)
            shared.append(s)
        return index[s]

    out = io.StringIO()
    out.write('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
              '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
              '<sheetData>')
    for r, cells in enumerate([header] + rows):
        out.write(f'<row r="{r + 1}">')
        for c, v in enumerate(cells):
            ref = f"{col_letter(c)}{r + 1}"
            if v is None:
                continue
            if isinstance(v, (int, float)):
                out.write(f'<c r="{ref}"><v>{v}</v></c>')
            elif r > 0 and r % 10 == 0:
                out.write(f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                          f'{escape(v)}</t></is></c>')
            else:
                out.write(f'<c r="{ref}" t="s"><v>{sidx(v)}</v></c>')
        out.write("</row>")
    out.write("</sheetData></worksheet>")
    sst = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
           f'count="{len(shared)}" uniqueCount="{len(shared)}">'
           + "".join(f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in shared)
           + "</sst>")
    fixed = zipfile.ZipInfo("x")
    fixed.date_time = (2024, 1, 1, 0, 0, 0)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in [
            ("[Content_Types].xml",
             '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
             '<Default Extension="xml" ContentType="application/xml"/></Types>'),
            ("xl/workbook.xml",
             '<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
             '<sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>'),
            ("xl/sharedStrings.xml", sst),
            ("xl/worksheets/sheet1.xml", out.getvalue()),
        ]:
            info = zipfile.ZipInfo(name, fixed.date_time)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body)


def write_csv(path, header, rows, preamble=()):
    with open(path, "w", newline="") as fh:
        for line in preamble:
            fh.write(line + "\n")
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def bronze(base, seed, counties, cities, schools):
    """Bronze inputs for `counties` counties, `counties + cities` LEAs and
    `schools` schools. Returns the input byte count."""
    rng = random.Random(seed)
    names = county_names(rng, counties + cities)
    county, city = names[:counties], names[counties:]

    # housing: one row per county, GEO_IDs unique and in file order
    housing = [HOUSING_LABELS]
    for i, name in enumerate(county):
        units = rng.randint(800, 400000)
        tiers = [rng.randint(0, units // 12) for _ in range(5)]
        row = [f"0500000US13{i:05d}", f"{name} County, Georgia", str(units),
               str(rng.randint(0, units // 10))] + [str(t) for t in tiers] + \
              [str(rng.randint(50, 900))]
        if i % 37 == 5:
            row[2] = "0"                      # zero denominator -> null pct
        if i % 41 == 7:
            row[4 + rng.randint(0, 4)] = ""   # blank tier -> fillna(0)
        if i % 29 == 3:
            row[3] = "(X)"                    # unparseable, unused column
        if i % 53 == 11:
            row[4 + rng.randint(0, 4)] = "(X)"
        housing.append(row)

    # LEAs: one district per county plus the cities; lea_ids 3-digit codes
    leas = [(f"{600 + i}", f"{n} County") for i, n in enumerate(county)]
    leas += [(f"{600 + counties + i}", f"{n} City") for i, n in enumerate(city)]
    school_rows = []
    for s in range(schools):
        lea_id, district = leas[s % len(leas)] if s < len(leas) else rng.choice(leas)
        sid = 100000 + s
        if s % 97 == 13 and school_rows:
            sid = school_rows[-1][0]          # duplicated schoolid (nunique != count)
        score = None if s % 23 == 4 else round(rng.uniform(40.0, 99.9), 1)
        padded = f" {lea_id} " if s % 7 == 0 else lea_id
        school_rows.append([sid, f"{rng.choice(SYLLABLES).capitalize()} School {s}",
                            padded, district, score, rng.choice(["E", "M", "H"])])

    special = []
    for i, (lea_id, district) in enumerate(leas):
        for _ in range(2 if i % 31 == 2 else 1):          # duplicate lea_id -> J1 fan-out
            total = 0 if i % 43 == 9 else rng.randint(40, 9000)
            incl = rng.randint(0, total) if total else 0
            special.append([f" {lea_id}" if i % 5 == 0 else lea_id, district.upper(),
                            str(total), str(incl), str(rng.randint(0, max(total - incl, 0))),
                            "2022-23"])
    special.append(["9990001", "Orphan Charter", "120", "60", "30", "2022-23"])  # no school rows

    hdir = lake_dir(base, "housing_affordability")
    sdir = lake_dir(base, "school_performance")
    pdir = lake_dir(base, "special_education")
    for d in (hdir, sdir, pdir):
        os.makedirs(d, exist_ok=True)
    write_csv(os.path.join(hdir, "housing2019-23.csv"), HOUSING_COLS, housing)
    write_xlsx(os.path.join(sdir, "school_performance.xlsx"), SCHOOL_COLS, school_rows)
    write_csv(os.path.join(pdir, "special_education2022-23.csv"), SPECIAL_COLS, special,
              preamble=["Georgia Department of Education", "IDEA Section 618 Child Count",
                        "School Year 2022-23", "Generated synthetic extract"])
    return sum(os.path.getsize(os.path.join(d, f)) for d in (hdir, sdir, pdir)
               for f in os.listdir(d))


def school_twin(base, twin_path):
    """CSV twin of the school sheet (cells as the XLSX stores them) for DuckDB."""
    import xml.etree.ElementTree as ET
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    path = os.path.join(lake_dir(base, "school_performance"), "school_performance.xlsx")
    with zipfile.ZipFile(path) as z:
        shared = ["".join(t.text or "" for t in si.iter(ns + "t"))
                  for si in ET.fromstring(z.read("xl/sharedStrings.xml"))]
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    rows = []
    for row in sheet.iter(ns + "row"):
        cells = [None] * len(SCHOOL_COLS)
        for c in row.iter(ns + "c"):
            ref = c.get("r")
            idx = ord(ref[0]) - 65
            if c.get("t") == "s":
                cells[idx] = shared[int(c.find(ns + "v").text)]
            elif c.get("t") == "inlineStr":
                cells[idx] = "".join(t.text or "" for t in c.iter(ns + "t"))
            else:
                cells[idx] = c.find(ns + "v").text
        rows.append(cells)
    write_csv(twin_path, rows[0], rows[1:])


# ---------------------------------------------------------------- suite tables

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]


def suite_tables(out, seed, scale=1):
    """Star schema + events/documents/embeddings at `scale` x (150 customers,
    1,500 orders, 6,000 lineitems, 1,000 events, 500 documents, 500 vectors)."""
    import datetime as dt
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(regions, s)})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc, ns_, npart, no = 150 * scale, 10 * scale, 200 * scale, 1500 * scale
    put("customer", {
        "c_custkey": pa.array(range(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], s),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(nc)], i32),
        "c_acctbal": pa.array([round(rng.uniform(-999, 9999), 2) for _ in range(nc)], f64),
        "c_mktsegment": pa.array([rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                              "HOUSEHOLD", "MACHINERY"]) for _ in range(nc)], s)})
    put("supplier", {
        "s_suppkey": pa.array(range(ns_), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns_)], s),
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(ns_)], i32),
        "s_acctbal": pa.array([round(rng.uniform(-999, 9999), 2) for _ in range(ns_)], f64)})
    adj = ["old", "new", "small", "large", "red", "blue", "hot", "cold"]
    noun = ["widget", "gizmo", "bolt", "gear", "ring", "anvil", "plate", "rod"]
    put("part", {
        "p_partkey": pa.array(range(npart), i64),
        "p_name": pa.array([f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(npart)], s),
        "p_brand": pa.array([f"Brand#{rng.randint(1, 25)}" for _ in range(npart)], s),
        "p_type": pa.array([rng.choice(["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE",
                                        "STANDARD"]) for _ in range(npart)], s),
        "p_size": pa.array([rng.randint(1, 50) for _ in range(npart)], i32),
        "p_retailprice": pa.array([round(900 + i * 0.1, 2) for i in range(npart)], f64)})
    day0 = dt.datetime(1995, 1, 1)
    odates = [day0 + dt.timedelta(days=rng.randrange(2404)) for _ in range(no)]
    put("orders", {
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array([rng.randrange(nc) for _ in range(no)], i64),
        "o_orderstatus": pa.array([rng.choice("OFP") for _ in range(no)], s),
        "o_totalprice": pa.array([round(rng.uniform(1000, 400000), 2) for _ in range(no)], f64),
        "o_orderdate": pa.array(odates, ts),
        "o_orderpriority": pa.array([rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                 "4-NOT SPECIFIED", "5-LOW"])
                                     for _ in range(no)], s)})
    li = []
    for o in range(no):
        for ln in range(1, rng.randint(1, 7) + 1):
            li.append((o, ln))
    rng.shuffle(li)
    nl = len(li)
    qty = [float(rng.randint(1, 50)) for _ in range(nl)]
    put("lineitem", {
        "l_orderkey": pa.array([o for o, _ in li], i64),
        "l_partkey": pa.array([rng.randrange(npart) for _ in range(nl)], i64),
        "l_suppkey": pa.array([rng.randrange(ns_) for _ in range(nl)], i64),
        "l_linenumber": pa.array([n for _, n in li], i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array([round(q * rng.uniform(900, 2100), 2) for q in qty], f64),
        "l_discount": pa.array([rng.randint(0, 10) / 100 for _ in range(nl)], f64),
        "l_tax": pa.array([rng.randint(0, 8) / 100 for _ in range(nl)], f64),
        "l_returnflag": pa.array([rng.choice("NRA") for _ in range(nl)], s),
        "l_linestatus": pa.array([rng.choice("FO") for _ in range(nl)], s),
        "l_shipdate": pa.array([odates[o] + dt.timedelta(days=rng.randint(1, 120))
                                for o, _ in li], ts)})
    ne = 1000 * scale
    t0 = dt.datetime(2024, 1, 1)
    secs = sorted(rng.uniform(0, 30 * 86400) for _ in range(ne))
    put("events", {
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array([t0 + dt.timedelta(seconds=x) for x in secs], ts),
        "user_id": pa.array([rng.randrange(15 * scale) for _ in range(ne)], i64),
        "event_type": pa.array([rng.choice(["click", "purchase", "error", "signup", "view"])
                                for _ in range(ne)], s),
        "value": pa.array([round(rng.uniform(0.03, 330), 2) for _ in range(ne)], f64),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(ne)], s)})
    nd = 500 * scale
    texts = []
    for d in range(nd):
        if d % 25 == 24 and texts:                 # planted near-duplicates
            words = texts[rng.randrange(len(texts))].split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 100))))
    put("documents", {
        "doc_id": pa.array(range(nd), i64),
        "text": pa.array(texts, s),
        "lang": pa.array([rng.choice(["en", "en", "fr", "es", "zh", "de"]) for _ in range(nd)], s),
        "source": pa.array([f"src{d % 20}" for d in range(nd)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    nv, dim = 500 * scale, 64
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(nv):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 0.8) for c in centers[lab]]
        n = math.sqrt(sum(x * x for x in v))
        vecs.append([x / n for x in v])
        labels.append(lab)
    put("embeddings", {
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
