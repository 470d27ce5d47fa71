"""Seeded input generator for the benchmark.

Everything the program under test receives is written here, from the seed
alone, into one directory per run:

  submission workload
    dict.parquet          canonical dictionary (title, ext_id)
    existing.parquet      members the push plan treats as already known
    submissions/NN.csv    member files handed to Engine.processSubmission
    probe.xlsx            the warm-up file, also resolved on the token-blocked
                          path (its band counts must match the nested-loop path)
    labels.json           per-item class labels and input sizes; the harness
                          checks outputs against them, the program never sees them
  batch workload
    corpus/documents.parquet
                          base corpus that ScaleStudy.synthesize replicates 10x
    tables/*.parquet      star schema plus documents, embeddings and events,
                          read by the query suite
    labels.json           the seed and input sizes

The same (workload, seed) always gives byte-identical files.

  python3 perfbench/gen.py <out dir> <submission|batch> <seed>
"""

import json
import os
import random
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- vocabulary

ADJECTIVES = """organic roasted dried smoked fresh frozen raw toasted salted
unsalted sweetened spiced pickled candied ground whole crushed sliced diced
shredded puffed sprouted fermented aged cured creamy crunchy wild heirloom
golden dark light mild hot smoky tangy zesty honeyed malted blanched""".split()

FOODS = """almond apple apricot banana barley basil bean beet blueberry
broccoli buckwheat cabbage cacao carrot cashew celery cherry chickpea
chili cinnamon coconut coffee corn cranberry cucumber date fennel fig
garlic ginger grape hazelnut hemp kale lemon lentil lime mango maple
millet mint mushroom oat olive onion orange papaya peach peanut pear
pecan pepper pineapple pistachio plum pumpkin quinoa raisin rice rye
sesame sorghum soy spinach squash strawberry sunflower tomato turmeric
vanilla walnut wheat yam""".split()

FORMS = """flour butter oil paste powder syrup chips flakes puree jam
spread milk cream sauce seeds bar crisps granola juice nectar concentrate
extract meal bites clusters""".split()

# letters that the food vocabulary barely uses: garbage names built from
# them share almost no characters with any title, so they score far below
# the review band against every dictionary entry
GARBAGE_LETTERS = "qxzjkvwyb"

SUFFIXES = ["blend", "mix", "select", "premium", "classic"]

# item classes and their shares of every member file (exact counts per file)
CLASSES = [("exact", 0.40), ("casefold", 0.15), ("suffixed", 0.15),
           ("reordered", 0.15), ("garbage", 0.15)]

CITIES = ["Austin", "Boston", "Denver", "Fresno", "Omaha", "Salem",
          "Tucson", "Eugene", "Boise", "Tampa"]
COUNTRIES = ["USA", "Canada", "Mexico", "Germany", "France", "Spain"]

# CSV/xlsx header row: the canonical names the reference's template uses
HEADER = ["businessName", "contactEmail", "streetAddress1", "city1",
          "country1", "companyBio", "products", "ingredients"]


def all_titles():
    return [f"{a} {f} {m}".title()
            for a in ADJECTIVES for f in FOODS for m in FORMS]


def dictionary(rng, n):
    titles = rng.sample(all_titles(), n)
    return [(t, f"EXT-{i:06d}") for i, t in enumerate(titles)]


def derive(rng, cls, title, taken):
    """One item name of class `cls` derived from dictionary `title`.
    Non-exact classes never coincide with a title (case-insensitively),
    so exact-phase hits are exactly the exact and casefold items."""
    for _ in range(50):
        if cls == "exact":
            return title
        if cls == "casefold":
            return title.lower() if rng.random() < 0.5 else title.upper()
        if cls == "suffixed":
            name = f"{title} {rng.choice(SUFFIXES)}"
        elif cls == "reordered":
            words = title.split()
            perm = words[:]
            while perm == words:
                rng.shuffle(perm)
            name = " ".join(perm)
        else:
            name = " ".join(
                "".join(rng.choice(GARBAGE_LETTERS) for _ in range(rng.randint(5, 8)))
                for _ in range(rng.randint(1, 2)))
        if name.lower() not in taken:
            return name
    raise RuntimeError(f"could not derive a {cls} item from {title!r}")


def class_sequence(rng, n):
    """`n` class names in the fixed shares (largest remainder), shuffled."""
    exact = [(name, share * n) for name, share in CLASSES]
    counts = {name: int(x) for name, x in exact}
    for name, x in sorted(exact, key=lambda e: int(e[1]) - e[1])[:n - sum(counts.values())]:
        counts[name] += 1
    seq = [name for name, _ in CLASSES for _ in range(counts[name])]
    rng.shuffle(seq)
    return seq


def member_rows(rng, dict_rows, n_members, items_per_member, tag):
    """Member rows plus one label record per item of a valid member."""
    taken = {t.lower() for t, _ in dict_rows}
    classes = iter(class_sequence(rng, n_members * items_per_member))
    rows, labels = [], []
    for m in range(n_members):
        # every 20th member has a malformed email: the error report is
        # never empty in files of 8 or more members
        email = (f"contact{m}@{tag}.example.com" if m % 20 != 7
                 else f"contact{m}-at-{tag}")
        products, ingredients, seen = [], [], set()
        for _ in range(items_per_member):
            cls = next(classes)
            while True:
                title, ext_id = dict_rows[rng.randrange(len(dict_rows))]
                item = derive(rng, cls, title, taken)
                if item.lower() not in seen:
                    break
            seen.add(item.lower())
            (products if len(products) <= len(ingredients) else ingredients).append(item)
            if m % 20 != 7:
                labels.append([cls, item, ext_id])
        rows.append([
            f"{tag.title()} Foods {m:05d} LLC", email,
            f"{100 + m} Market Street", CITIES[m % len(CITIES)],
            COUNTRIES[m % len(COUNTRIES)],
            f"Family-run producer number {m} of small-batch pantry goods.",
            "; ".join(products), "; ".join(ingredients)])
    return rows, labels


def write_csv(path, rows):
    import csv
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)


def col_ref(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, rows):
    """Minimal xlsx: a zip of the five parts a reader needs, one sheet,
    every cell an inline string. Fixed timestamps keep the bytes seeded."""
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="Members" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '</Relationships>',
    }
    out = ['<?xml version="1.0" encoding="UTF-8"?>'
           '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>']
    for r, row in enumerate([HEADER] + rows, start=1):
        out.append(f'<row r="{r}">')
        for c, v in enumerate(row):
            out.append(f'<c r="{col_ref(c)}{r}" t="inlineStr"><is><t>{escape(v)}</t></is></c>')
        out.append("</row>")
    out.append("</sheetData></worksheet>")
    parts["xl/worksheets/sheet1.xml"] = "".join(out)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body)


def write_parquet(path, columns):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path, compression="snappy")


# ------------------------------------------------------------ submissions

# Submission sizes: `files` CSV member files of `members` members with
# `items` items each, a probe workbook of `probe_members` members, and a
# dictionary of `titles` titles.
SUBMISSION = dict(titles=1000, files=3, members=5, items=6, probe_members=3)


def gen_submissions(out, seed):
    size = SUBMISSION
    rng = random.Random(f"submission:{seed}")
    d = dictionary(rng, size["titles"])
    write_parquet(os.path.join(out, "dict.parquet"), {
        "title": [t for t, _ in d], "ext_id": [e for _, e in d]})
    sub_dir = os.path.join(out, "submissions")
    os.makedirs(sub_dir, exist_ok=True)
    files, all_labels = [], {}
    for i in range(size["files"]):
        rows, labels = member_rows(rng, d, size["members"], size["items"], f"file{i:02d}")
        name = f"{i:02d}.csv"
        write_csv(os.path.join(sub_dir, name), rows)
        files.append({"name": name, "members": size["members"], "items": len(labels)})
        all_labels[name] = labels
    # the probe workbook: the warm-up operation, and the file resolved on
    # both resolver paths, whose band counts must agree
    probe_rows, probe_labels = member_rows(rng, d, size["probe_members"], size["items"], "probe")
    write_xlsx(os.path.join(out, "probe.xlsx"), probe_rows)
    # existing members: every third member of file 0 is already known, so
    # the push plan has both updates and inserts
    rows0, _ = member_rows(random.Random(f"submission:{seed}:existing"), d, 12, 2, "file00")
    write_parquet(os.path.join(out, "existing.parquet"), {
        "businessName": [r[0] for r in rows0[::3]],
        "contactEmail": [r[1] for r in rows0[::3]]})
    exact_miss = {lab[1] for labs in all_labels.values() for lab in labs
                  if lab[0] not in ("exact", "casefold")}
    sizes = {
        "files": len(files),
        "members": sum(f["members"] for f in files),
        "items": sum(f["items"] for f in files),
        "exact_miss_names": len(exact_miss),
        "dict_titles": len(d),
    }
    with open(os.path.join(out, "labels.json"), "w") as f:
        json.dump({"workload": "submission", "seed": seed, "files": files,
                   "labels": all_labels, "probe": probe_labels, "sizes": sizes}, f)
    return sizes


# ----------------------------------------------------------------- corpus

WORDS = """spark window merge table column vector stream value data small
join filter big group hash customer sort order slow line part fast row the
agg key query a scan batch""".split()
LANGS = ["en", "de", "es", "fr", "zh"]
BOILERPLATE = ["Subscribe to our newsletter for weekly updates",
               "All rights reserved by the publisher",
               "Click here to read the full story"]


def corpus_vocab(rng, n):
    """`n` distinct pronounceable pseudo-words, most frequent first."""
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(cons) + rng.choice(vows)
                          for _ in range(rng.randint(1, 3))))
    return sorted(words, key=lambda w: (len(w), w))


def corpus_docs(rng, n_docs):
    """Multi-line documents over a Zipf-weighted vocabulary, with planted
    structure every corpus stage acts on: exact duplicates, near
    duplicates (one word changed), a shared passage, boilerplate lines,
    e-mail and phone PII."""
    vocab = corpus_vocab(rng, 3000)
    weights = [1.0 / (r + 20) for r in range(len(vocab))]
    texts = []
    passage = " ".join(rng.choices(vocab, weights, k=60))
    for i in range(n_docs):
        r = i % 20
        if r == 3 and texts:
            texts.append(texts[rng.randrange(len(texts))])
            continue
        if r == 5 and texts:
            w = texts[rng.randrange(len(texts))].split(" ")
            w[rng.randrange(len(w))] = rng.choice(vocab)
            texts.append(" ".join(w))
            continue
        lines = [" ".join(rng.choices(vocab, weights, k=rng.randint(8, 40))) + "."
                 for _ in range(rng.randint(3, 7))]
        if r in (1, 9, 14):
            lines.insert(rng.randrange(len(lines)), passage)
        if r in (2, 6, 11, 17):
            lines.append(rng.choice(BOILERPLATE))
        if r == 8:
            lines.append(f"Contact writer{i}@news.example.org or "
                         f"555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}.")
        texts.append("\n".join(lines))
    return {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i % len(LANGS)] for i in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


CORPUS_BASE_DOCS = 80
# Like the query tables (below), the corpus content comes from a fixed
# generator seed so the ledger and output digests can be checked against the
# manifest; the run seed permutes the physical row order.
CORPUS_SEED = 20240102


def gen_corpus(out, seed):
    docs = pa.table(corpus_docs(random.Random(CORPUS_SEED), CORPUS_BASE_DOCS))
    docs = docs.take(np.random.RandomState(seed).permutation(docs.num_rows))
    os.makedirs(os.path.join(out, "corpus"))
    pq.write_table(docs, os.path.join(out, "corpus", "documents.parquet"),
                   compression="snappy")


# ------------------------------------------------------------ query tables

# The query tables are generated from a FIXED generator seed: the suite's
# output check compares every query's row count and digest with a manifest
# recorded once, which needs identical table contents in every run. The
# run seed only permutes the physical row order of each file, which no
# query's result may depend on.
TABLE_SEED = 20240101
TABLE_SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, embeddings=500, documents=500)
PART_WORDS = (["small", "red", "blue", "hot", "old", "large", "green", "cold"],
              ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"])


def tables(rs):
    n = TABLE_SIZES
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    money = lambda lo, hi, k: np.round(rs.uniform(lo, hi, k), 2)
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rs.randint(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n["customer"]),
        "c_mktsegment": list(rs.choice(["MACHINERY", "FURNITURE", "BUILDING",
                                        "AUTOMOBILE", "HOUSEHOLD"], n["customer"]))}
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rs.randint(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n["supplier"])}
    a, b = PART_WORDS
    t["part"] = {
        "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
        "p_name": [f"{a[i % 8]} {b[(i // 8) % 8]}" for i in rs.randint(0, 64, n["part"])],
        "p_brand": [f"Brand#{i}" for i in rs.randint(1, 26, n["part"])],
        "p_type": list(rs.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
                                  "ECONOMY"], n["part"])),
        "p_size": pa.array(rs.randint(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 2)}
    day = np.datetime64("1995-01-01", "us")
    odays = rs.randint(0, 2404, n["orders"])
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rs.randint(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": list(rs.choice(["P", "O", "F"], n["orders"])),
        "o_totalprice": money(1000, 500000, n["orders"]),
        "o_orderdate": pa.array(day + odays.astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": list(rs.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n["orders"]))}
    k = n["lineitem"]
    okey = rs.randint(0, n["orders"], k)
    qty = rs.randint(1, 51, k).astype(float)
    t["lineitem"] = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rs.randint(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rs.randint(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rs.randint(1, 8, k), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rs.uniform(900, 2100, k), 2),
        "l_discount": np.round(rs.randint(0, 11, k) / 100.0, 2),
        "l_tax": np.round(rs.randint(0, 9, k) / 100.0, 2),
        "l_returnflag": list(rs.choice(["R", "A", "N"], k)),
        "l_linestatus": list(rs.choice(["O", "F"], k)),
        "l_shipdate": pa.array(day + (odays[okey] + rs.randint(1, 122, k))
                               .astype("timedelta64[D]"), pa.timestamp("us"))}
    k = n["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    steps = np.cumsum(rs.randint(1, 259_000_000, k))
    t["events"] = {
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts0 + steps.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rs.randint(0, 150, k), pa.int64()),
        "event_type": list(rs.choice(["signup", "error", "click", "view", "purchase"], k)),
        "value": np.round(rs.uniform(0.01, 490.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rs.randint(0, 100, k)]}
    k = n["embeddings"]
    labels = rs.randint(0, 10, k)
    centers = rs.normal(0, 1, (10, 64))
    vecs = centers[labels] + rs.normal(0, 1.5, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}
    k = n["documents"]
    texts = []
    for i in range(k):
        if i % 60 == 59:
            texts.append(texts[rs.randint(0, len(texts))] + " dup")
        else:
            texts.append(" ".join(rs.choice(WORDS, rs.randint(8, 80))))
    t["documents"] = {
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": list(rs.choice(LANGS, k, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())}
    return t


def gen_tables(out, seed):
    perm = np.random.RandomState(seed + 1)
    os.makedirs(os.path.join(out, "tables"))
    for name, cols in tables(np.random.RandomState(TABLE_SEED)).items():
        tbl = pa.table(cols)
        # events keep their file order: the streaming queries replay the
        # file as an append log
        if name != "events":
            tbl = tbl.take(perm.permutation(tbl.num_rows))
        pq.write_table(tbl, os.path.join(out, "tables", f"{name}.parquet"),
                       compression="snappy")


def gen_batch(out, seed):
    gen_corpus(out, seed)
    gen_tables(out, seed)
    sizes = {"corpus_base_docs": CORPUS_BASE_DOCS, "corpus_docs": CORPUS_BASE_DOCS * 10,
             "table_rows": {k: v for k, v in TABLE_SIZES.items()}}
    with open(os.path.join(out, "labels.json"), "w") as f:
        json.dump({"workload": "batch", "seed": seed, "sizes": sizes}, f)
    return sizes


def generate(out, workload, seed):
    os.makedirs(out, exist_ok=True)
    if workload == "submission":
        return gen_submissions(out, seed)
    if workload == "batch":
        return gen_batch(out, seed)
    raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))))
