"""Seeded input generators and the independent oracle for the benchmark.

Everything here is plain Python: the CSV drops, the document corpus and
the expected outcomes are computed without the program, so the
benchmark can check the program's outputs against them.

* Manufacturing drops follow the reference's 9-field schema
  (``src/test/resources/mapping_config.xml``). A row is clean or carries
  exactly one planted defect, drawn at a stated rate from ``DEFECTS``.
  The oracle re-reads the written CSV and re-implements the reference's
  rules row at a time (row rules, unique-daily, z-score, duplicate_check,
  referential integrity), so it checks the file as written, not the
  generator's intent.
* The document corpus is made of families: a family's first document is
  150 random words from a 30,000-word vocabulary, every later member
  substitutes one word of the first (word-3-shingle Jaccard >= 0.92 with
  any other member). Documents of different families share no shingle in
  practice (random words), so "has a near-duplicate among earlier
  documents" is "has an earlier member of its family", which the oracle
  confirms by computing the exact Jaccard of every such pair.
"""

import csv
import datetime as dt
import math
import os
import random
import re
from collections import Counter

FIELDS = ["timestamp", "line_id", "batch_number", "product_code",
          "temperature_c", "pressure_kpa", "humidity_pct", "operator_id",
          "defect_count"]
REQUIRED = [f for f in FIELDS if f != "humidity_pct"]
DEMO_PRODUCTS = ["PROD-A1", "PROD-B2", "PROD-C3", "PROD-D4"]
N_OPERATORS = 400  # OP0001..OP0400 form the Production.Operators dimension

# planted defect kinds and their relative weights within the defect share
DEFECTS = [
    ("range_pressure", 8), ("range_humidity", 6), ("range_defects", 6),
    ("range_temperature", 3), ("numeric", 8), ("regex_line", 8),
    ("regex_long", 1), ("regex_operator", 6), ("lookup", 8),
    ("missing", 10), ("date_format", 4), ("date_range", 4),
    ("dup_key", 6), ("unique_daily", 6), ("outlier", 3), ("ri", 8),
]
Z_THRESHOLD = 3.0
Z_MARGIN = 0.5  # no row's |z| may sit this close to the threshold


# ---------------------------------------------------------------------------
# manufacturing CSV drops
# ---------------------------------------------------------------------------

def operators():
    return ["OP%04d" % i for i in range(1, N_OPERATORS + 1)]


def write_operators(path):
    with open(path, "w", newline="") as f:
        f.write("operator_id,operator_name\n")
        for op in operators():
            f.write("%s,Operator %s\n" % (op, op[2:]))


def _clean_row(rng, day, tag, seq):
    ts = day + dt.timedelta(seconds=rng.randrange(86400))
    return [
        ts.strftime("%Y-%m-%d %H:%M:%S"),
        "LINE%03d" % rng.randint(1, 20),
        "BATCH%s%07d" % (tag, seq),
        rng.choice(DEMO_PRODUCTS),
        "%.2f" % rng.uniform(140.0, 160.0),
        "%.1f" % rng.uniform(400.0, 500.0),
        "" if rng.random() < 0.05 else "%.1f" % rng.uniform(30.0, 60.0),
        "OP%04d" % rng.randint(1, N_OPERATORS),
        str(rng.randint(0, 5)),
    ]


def _plant(rng, row, kind, rows):
    i = FIELDS.index
    if kind == "range_pressure":
        row[i("pressure_kpa")] = "%.1f" % rng.uniform(1000.5, 1500.0)
    elif kind == "range_humidity":
        row[i("humidity_pct")] = "%.1f" % rng.uniform(100.5, 150.0)
    elif kind == "range_defects":
        row[i("defect_count")] = rng.choice(["-3", "12000"])
    elif kind == "range_temperature":
        row[i("temperature_c")] = "%.2f" % rng.uniform(201.0, 215.0)
    elif kind == "numeric":
        if rng.random() < 0.5:
            row[i("pressure_kpa")] = "n/a"
        else:
            row[i("defect_count")] = "ten"
    elif kind == "regex_line":
        row[i("line_id")] = rng.choice(["LN%02d" % rng.randint(1, 99),
                                        "LINE%04d" % rng.randint(1, 9999)])
    elif kind == "regex_long":
        row[i("line_id")] = "LINE" + "X" * 296  # FieldValue is cut to 255
    elif kind == "regex_operator":
        row[i("operator_id")] = "OPX%03d" % rng.randint(1, 999)
    elif kind == "lookup":
        row[i("product_code")] = "PROD-Z9"
    elif kind == "missing":
        row[i(rng.choice(REQUIRED))] = ""
    elif kind == "date_format":
        row[i("timestamp")] = "not-a-date"
    elif kind == "date_range":
        row[i("timestamp")] = "2019-%02d-%02d 10:00:00" % (
            rng.randint(1, 12), rng.randint(1, 28))
    elif kind == "dup_key" and rows:
        src = rng.choice(rows)
        for f in ("timestamp", "line_id", "batch_number"):
            row[i(f)] = src[i(f)]
    elif kind == "unique_daily" and rows:
        src = rng.choice(rows)
        row[i("batch_number")] = src[i("batch_number")]
        day = src[i("timestamp")][:10]
        if re.match(r"^\d{4}-\d{2}-\d{2}$", day):
            row[i("timestamp")] = "%s %02d:%02d:%02d" % (
                day, rng.randrange(24), rng.randrange(60), rng.randrange(60))
    elif kind == "outlier":
        row[i("temperature_c")] = "%.2f" % rng.uniform(195.0, 199.9)
    elif kind == "ri":
        row[i("operator_id")] = "OP9%03d" % rng.randint(0, 999)


def drop_rows(rng, n_rows, defect_share, tag, days=3):
    """Rows of one CSV drop: clean rows plus one planted defect per
    defect row, kinds drawn by ``DEFECTS`` weight."""
    kinds = [k for k, _ in DEFECTS]
    weights = [w for _, w in DEFECTS]
    day0 = dt.datetime(2024, 2, 1) + dt.timedelta(days=rng.randrange(300))
    rows = []
    for seq in range(n_rows):
        row = _clean_row(rng, day0 + dt.timedelta(days=rng.randrange(days)), tag, seq)
        if rng.random() < defect_share:
            _plant(rng, row, rng.choices(kinds, weights)[0], rows)
        rows.append(row)
    return rows


def write_csv(path, rows):
    with open(path, "w", newline="") as f:
        f.write(",".join(FIELDS) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


# -- oracle: the reference's rules, row at a time ----------------------------

_NUM = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_TS = re.compile(r"^(\d{4})-(\d{2})-(\d{2})[ T](\d{2}):(\d{2}):(\d{2})$")
_LINE = re.compile(r"^(?:^LINE[0-9]{3}$)")
_OPER = re.compile(r"^(?:^OP[0-9]{4}$)")
_TS_MIN = dt.datetime(2020, 1, 1)
_TS_MAX = dt.datetime(2099, 12, 31)


def _num(v):
    """String -> double as Spark casts the values the generator writes
    (plain decimals); anything else is null."""
    s = v.strip()
    try:
        x = float(s)
    except ValueError:
        return None
    return x if _NUM.match(s) else None


def _ts(v):
    """String -> timestamp for ``yyyy-MM-dd HH:mm:ss``; else null."""
    s = v.strip()
    if len(s) != 19 or not _TS.match(s):
        return None
    try:
        return dt.datetime.fromisoformat(s)
    except ValueError:
        return None


def _range(v, lo, hi):
    d = _num(v)
    if d is None:
        return ["NUMERIC"]
    return ["RANGE"] if d < lo or d > hi else []


def _not_blank(v):
    return ["NOT_NULL"] if v.strip(" ") == "" else []


def _date_rule(v):
    t = _TS_CACHE.get(v) if v in _TS_CACHE else _ts(v)
    if t is None:
        return ["DATE_FORMAT"]
    return [] if _TS_MIN <= t <= _TS_MAX else ["DATE_RANGE"]


# field -> its rules on a non-null raw value, in the config's order
_RULES = {
    "timestamp": lambda v: _not_blank(v) + _date_rule(v),
    "line_id": lambda v: _not_blank(v) + ([] if _LINE.match(v) else ["REGEX"]),
    "batch_number": _not_blank,
    "product_code": lambda v: _not_blank(v) + ([] if v in DEMO_PRODUCTS else ["LOOKUP"]),
    "temperature_c": lambda v: _not_blank(v) + _range(v, -10.0, 200.0),
    "pressure_kpa": lambda v: _not_blank(v) + _range(v, 0.0, 1000.0),
    "humidity_pct": lambda v: _range(v, 0.0, 100.0),
    "operator_id": lambda v: _not_blank(v) + ([] if _OPER.match(v) else ["REGEX"]),
    "defect_count": lambda v: _not_blank(v) + _range(v, 0.0, 9999.0),
}
_REQUIRED = frozenset(REQUIRED)
_TS_CACHE = {}  # raw timestamp -> parsed, filled per file by expect_file


def _row_errors(r):
    """Row-rule error types of one raw row, in the reference's order:
    a required empty field yields REQUIRED_FIELD_MISSING alone, an
    optional empty field yields nothing, else every rule runs."""
    errs = []
    for f in FIELDS:
        v = r[f]
        if v is None:
            if f in _REQUIRED:
                errs.append("REQUIRED_FIELD_MISSING")
        else:
            errs.extend(_RULES[f](v))
    return errs


def expect_file(path, dim_operators):
    """Expected outcome of one validation run over one CSV file: the
    summary counts and the error count per ErrorType."""
    with open(path, newline="") as f:
        rd = csv.reader(f)
        header = next(rd)
        assert header == FIELDS, header
        # the CSV reader maps an empty field to null
        rows = [{k: (v if v != "" else None) for k, v in zip(FIELDS, rec)}
                for rec in rd]
    _TS_CACHE.clear()
    for r in rows:
        if r["timestamp"] is not None:
            _TS_CACHE[r["timestamp"]] = _ts(r["timestamp"])
    errs = [_row_errors(r) for r in rows]

    # unique scope=daily on batch_number: (day of timestamp, value) groups
    days = [_TS_CACHE[r["timestamp"]] if r["timestamp"] is not None else None
            for r in rows]
    days = [t.date() if t else None for t in days]
    daily = Counter(zip(days, (r["batch_number"] for r in rows)))
    for r, d, e in zip(rows, days, errs):
        if r["batch_number"] is not None and daily[(d, r["batch_number"])] > 1:
            e.append("UNIQUE")

    # outlier_detection zscore on temperature_c: mean / sample stddev of
    # every parseable value in the file
    temps = [_num(r["temperature_c"]) if r["temperature_c"] is not None else None
             for r in rows]
    vals = [t for t in temps if t is not None]
    if len(vals) > 1:
        mean = math.fsum(vals) / len(vals)
        sd = math.sqrt(math.fsum((t - mean) ** 2 for t in vals) / (len(vals) - 1))
        if sd > 0:
            for t, e in zip(temps, errs):
                if t is None:
                    continue
                z = abs(t - mean) / sd
                if abs(z - Z_THRESHOLD) < Z_MARGIN:
                    raise ValueError("z-score %.3f too close to the threshold in %s"
                                     % (z, path))
                if z > Z_THRESHOLD:
                    e.append("OUTLIER")

    # duplicate_check over the raw (timestamp, line_id, batch_number):
    # only rows with no error so far gain DUPLICATE
    keys = Counter((r["timestamp"], r["line_id"], r["batch_number"]) for r in rows)
    for i, r in enumerate(rows):
        if not errs[i] and keys[(r["timestamp"], r["line_id"], r["batch_number"])] > 1:
            errs[i] = ["DUPLICATE"]

    # referential_integrity operator_id -> Production.Operators
    dim = set(dim_operators)
    for r, e in zip(rows, errs):
        if r["operator_id"] is not None and r["operator_id"] not in dim:
            e.append("REFERENTIAL_INTEGRITY")

    by_type = Counter(t for e in errs for t in e)
    valid = sum(1 for e in errs if not e)
    return {
        "total": len(rows), "valid": valid, "invalid": len(rows) - valid,
        "errors": sum(len(e) for e in errs), "by_type": dict(by_type),
    }


def make_drops(out_dir, seed, n_files, rows_per_file, defect_share):
    """Writes ``n_files`` drops plus the operators dimension; returns
    {file name: expected outcome}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    expected = {}
    for k in range(n_files):
        name = "production_data_%03d.csv" % k
        path = os.path.join(out_dir, name)
        write_csv(path, drop_rows(rng, rows_per_file, defect_share, "%03d" % k))
        expected[name] = expect_file(path, operators())
    return expected


# ---------------------------------------------------------------------------
# document corpus with planted near-duplicate families
# ---------------------------------------------------------------------------

WORDS_PER_DOC = 150
VOCAB = 30000
SHINGLE = 3
MIN_PLANTED_JACCARD = 0.9


def _vocab(rng):
    letters = "abcdefghijklmnopqrstuvwxyz"
    seen = set()
    while len(seen) < VOCAB:
        seen.add("".join(rng.choice(letters) for _ in range(rng.randint(4, 9))))
    return sorted(seen)


def shingles(text, n=SHINGLE):
    """Word n-gram set of a whitespace-tokenized text."""
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def make_corpus(seed, n_seed, n_steps, batch_size, dup_share):
    """Seed corpus and ``n_steps`` micro-batches. Each batch doc is a
    near-duplicate with probability ``dup_share``: of a seed doc, of a
    doc from an earlier batch, or of a doc earlier in the same batch.
    Returns (seed_docs, batches, expected) where docs are (id, text),
    and expected[k] is the sorted ids of batch k with no near-duplicate
    among the seed corpus and batches 0..k-1."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    family_of = {}   # doc id -> family id
    base = {}        # family id -> base word list
    texts = {}
    next_id = [1]

    def new_doc(fam=None):
        doc_id = next_id[0]
        next_id[0] += 1
        if fam is None:
            fam = doc_id
            words = [rng.choice(vocab) for _ in range(WORDS_PER_DOC)]
            base[fam] = words
        else:
            words = list(base[fam])
            words[rng.randrange(WORDS_PER_DOC)] = rng.choice(vocab)
        family_of[doc_id] = fam
        texts[doc_id] = " ".join(words)
        return doc_id

    seed_ids = [new_doc() for _ in range(n_seed)]
    # a few seed families already have two members
    for _ in range(n_seed // 50):
        seed_ids.append(new_doc(family_of[rng.choice(seed_ids)]))
    seen_before = set(seed_ids)
    batch_docs = []  # ids of earlier batches, in generation order
    batches, expected = [], []
    for _ in range(n_steps):
        ids = []
        for _ in range(batch_size):
            u = rng.random()
            if u < dup_share * 0.6:
                ids.append(new_doc(family_of[rng.choice(seed_ids)]))
            elif u < dup_share * 0.85 and batch_docs:
                ids.append(new_doc(family_of[rng.choice(batch_docs)]))
            elif u < dup_share and ids:
                ids.append(new_doc(family_of[rng.choice(ids)]))
            else:
                ids.append(new_doc())
        earlier_fams = Counter(family_of[d] for d in seen_before)
        novel = sorted(d for d in ids if earlier_fams[family_of[d]] == 0)
        # confirm the planted pairs are near-duplicates by exact Jaccard
        by_fam = {}
        for d in seen_before:
            by_fam.setdefault(family_of[d], []).append(d)
        for d in ids:
            for e in by_fam.get(family_of[d], []):
                j = jaccard(shingles(texts[d]), shingles(texts[e]))
                if j < MIN_PLANTED_JACCARD:
                    raise ValueError("planted pair %d/%d has Jaccard %.3f" % (d, e, j))
        batches.append([(d, texts[d]) for d in ids])
        expected.append(novel)
        seen_before.update(ids)
        batch_docs.extend(ids)
    seed_docs = [(d, texts[d]) for d in seed_ids]
    return seed_docs, batches, expected


def write_docs(path, docs):
    """Writes (doc_id, text) rows as a CSV without quoting: texts are
    lowercase words separated by single spaces."""
    with open(path, "w", newline="") as f:
        f.write("doc_id,text\n")
        for d, t in docs:
            f.write("%d,%s\n" % (d, t))


MASK64 = (1 << 64) - 1


def mix64(x):
    """splitmix64 finalizer; the id-set digest sums it over a set."""
    x = (x + 0x9E3779B97F4A7C15) & MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & MASK64
    return x ^ (x >> 31)


def id_digest(ids):
    """(count, sum of mix64) of an id collection; the benchmark JVM computes
    the same digest over the ids it reads back, as signed 64-bit."""
    s = sum(mix64(i) for i in ids) & MASK64
    return [len(ids), s - (1 << 64) if s >= 1 << 63 else s]
