"""Seeded input generators for the benchmark.

Two families, both a pure function of (seed, size):

* ``etl_inputs`` writes the three messy verticals the ETL pipeline reads
  (patients CSV, encounters CSV, diagnoses XML). Each is K copies of the
  pipeline's adversarial fixture rows; every copy carries its own keys, so
  no row of one copy can collide with a row of another under any of the
  pipeline's dedup keys. The expected output counts are therefore exactly
  K times the fixture's golden counts, and the generator returns them.
* ``warehouse_inputs`` writes the star-schema tables the query workloads
  read (region, nation, customer, supplier, part, orders, lineitem, events,
  documents), one parquet file each, with the column names, types and value
  distributions of the engine's test data.

Every file is written to a temporary name and renamed once complete, and a
directory is marked complete with a ``_DONE`` file written last, so an
interrupted generation is never reused.
"""
import datetime as dt
import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sets are cached under a name that includes this file's hash, so a
# changed generator never reuses inputs made by an older one.
with open(__file__, "rb") as _f:
    VERSION = hashlib.sha1(_f.read()).hexdigest()[:8]

# ---------------------------------------------------------------- ETL


# The fixture rows, with {t} where a copy's key tag goes: in every id, and in
# the family name, which is part of the patients person-dedup key. Row order
# inside a copy is kept: the patients id-dedup keeps the first P-0002 row.
_PATIENT_HEADER = "﻿patient_id, given_name, family_name, dob       , sex, height , weight"
_PATIENT_ROWS = [
    ("P-{t}-0001", "Alice", "Müller-{t}", "1987-03-14", "F", "170 cm", "65 kg"),
    ("P-{t}-0002", "bob", "smith-{t}", "12/31/1990", "M", "68 in", "150 lb"),
    ("P-{t}-0003", "Chloé", "Dubois-{t}", "31-12-1985", "F", "162", "54.5"),
    ("P-{t}-0004", "David", "O'Neil-{t}", "", "M", "180 cm", "82 kg"),
    ("P-{t}-0005", "ERIN", "Lee-{t}", "1999/07/01", "F", "5ft 6in", "130lb"),
    ("P-{t}-0006", "Fadi", "Haddad-{t}", "2008-02-29", "M", "190 cm", "110 kg"),
    ("P-{t}-0007", "Gül", "Yılmaz-{t}", "1980-11-05", "O", "175 cm", "N/A"),
    ("P-{t}-0008", "Hannah", "Ng-{t}", "1970-01-01", "U", "220 cm", "300 kg"),
    ("P-{t}-0009", "Ivan", "Petrov-{t}", "2009-05-03", "M", "70 in", "180 lb"),
    ("P-{t}-0010", "JANE", "DOE-{t}", "1991-09-09", "F", "165cm", "60kg"),
    ("P-{t}-0002", "Bob", "Smith-{t}", "1990-12-31", "M", "173 cm", "72 kg"),
    ("P-{t}-0011", "李", "雷-{t}", "1988-08-08", "M", "170", "65"),
]
_PATIENT_WIDTHS = (10, 10, 11, 10, 3, 7, 0)

_ENC_HEADER_FIELDS = ("encounter_id", "patient_id", "admit_dt", "discharge_dt",
                      "encounter_type", "source_file")
_ENC_WIDTHS = (85, 10, 25, 25, 14, 0)
# None marks the blank line + embedded header that split the fixture in two
_ENC_ROWS = [
    ("ENC-{t}-000100", "P-{t}-0001", "2024-12-30 10:00:00+01:00", "2025-01-02 14:30:00+01:00", "INPATIENT", "encounters_a.csv"),
    ("ENC-{t}-000101", "P-{t}-0002", "12/31/2024 08:00", "12/31/2024 20:00", "ED", "encounters_a.csv"),
    ("ENC-{t}-000102", "P-{t}-0003", "31-12-2024 09:15", "31-12-2024 12:00", "OUTPATIENT", "encounters_b.csv"),
    ("ENC-{t}-000103", "P-{t}-0004", "2024-11-05T09:00:00Z", "2024-11-04T17:00:00Z", "INPATIENT", "encounters_b.csv"),
    ("ENC-{t}-000104", "P-{t}-0005", "2025/01/03 07:30", "2025/01/03 09:00", "OUTPATIENT", "encounters_b.csv"),
    None,
    ("ENC-{t}-000105", "P-{t}-0007", "2025-01-05 11:00", "", "ED", "encounters_c.csv"),
    ("ENC-{t}-000106", "P-{t}-0999", "2025-01-06 10:00", "2025-01-06 12:00", "OUTPATIENT", "encounters_c.csv"),
    ("ENC-{t}-000101", "P-{t}-0002", "2024-12-31 08:00", "2024-12-31 20:00", "ED", "encounters_dup.csv"),
]
# the ;-delimited row with a 7th field
_ENC_SEMI = "ENC-{t}-000200;P-{t}-0008;2025-01-07 10:00;2025-01-07 12:00;OUTPATIENT;encounters_c.csv;EXTRA"

# (encounterId or None, code, isPrimary or None, recordedAt). The record
# without an encounterId fills to UNKNOWN, so its code carries the tag.
_DIAGNOSES = [
    ("ENC-{t}-000100", "E11.9", "true", "2024-12-31T13:05:00+01:00"),
    ("ENC-{t}-000101", "G44", "false", "2024-12-31"),
    ("ENC-{t}-000102", "I10", "true", "2024-12-31T10:00:00Z"),
    ("ENC-{t}-000104", "J06.9", None, "2025-01-03T08:00:00+02:00"),
    ("ENC-{t}-000105", "ZZZ", "true", "2025-01-05T11:10:00"),
    (None, "E66.9-{t}", None, "2025-01-02T09:00:00Z"),
    ("ENC-{t}-000103", "M54.5", "false", "2024-11-01T10:00:00Z"),
    ("ENC-{t}-000100", "N39.0", "false", "2035-01-01T00:00:00Z"),
]

# What one fixture copy yields through the pipeline (the golden run).
GOLDEN_ROWS = {"patients": 11, "encounters": 8, "diagnoses": 8, "logs": 12}
GOLDEN_REASONS = {
    "missing_unit_assumed_kg": 2,
    "missing_marker": 1,
    "implausible_bmi_62.0": 1,
    "unknown_or_missing": 1,
    "unparseable_date": 1,
    "duplicate_removed": 1,
    "duplicate_encounter_id": 2,
    "discharge_before_admit": 1,
    "missing_discharge": 2,
}
RECORDS_PER_COPY = len(_PATIENT_ROWS) + sum(r is not None for r in _ENC_ROWS) + 1 + len(_DIAGNOSES)


def expected_etl(copies):
    """Output counts the pipeline must produce on ``copies`` copies."""
    return {
        "rows": {k: v * copies for k, v in GOLDEN_ROWS.items()},
        "reasons": {k: v * copies for k, v in GOLDEN_REASONS.items()},
        "input_records": RECORDS_PER_COPY * copies,
    }


def _pad(fields, widths):
    return ", ".join(f.ljust(w) if w else f for f, w in zip(fields, widths))


def _copy_tags(seed, copies):
    """Distinct per-copy key tags, in a seeded order."""
    rng = random.Random(f"etl-{seed}")
    tags = rng.sample(range(10**6, 10**7), copies)
    return [str(t) for t in tags]


def _write_text(path, text):
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8", newline="") as f:
        f.write(text)
    os.replace(tmp, path)


def etl_files(seed, copies):
    """(patients, encounters, diagnoses) file contents for one input set."""
    tags = _copy_tags(seed, copies)
    pat = [_PATIENT_HEADER]
    enc = [_pad(_ENC_HEADER_FIELDS, _ENC_WIDTHS)]
    dia = ["<?xml version='1.0' encoding='utf-8'?>",
           '<Diagnoses xmlns="http://example.org/diagnosis" generatedAt="2025-01-15T10:22:00Z">']
    for t in tags:
        pat += [_pad([f.format(t=t) for f in row], _PATIENT_WIDTHS) for row in _PATIENT_ROWS]
        for row in _ENC_ROWS:
            if row is None:
                enc += ["", _pad(_ENC_HEADER_FIELDS, _ENC_WIDTHS)]
            else:
                enc.append(_pad([f.format(t=t) for f in row], _ENC_WIDTHS))
        enc.append(_ENC_SEMI.format(t=t))
        for eid, code, prim, rec in _DIAGNOSES:
            dia.append("    <Diagnosis>")
            if eid is not None:
                dia.append(f"        <encounterId>{eid.format(t=t)}</encounterId>")
            dia.append(f'        <code system="ICD-10">{code.format(t=t)}</code>')
            if prim is not None:
                dia.append(f"        <isPrimary>{prim}</isPrimary>")
            dia.append(f"        <recordedAt>{rec}</recordedAt>")
            dia.append("    </Diagnosis>")
    dia.append("</Diagnoses>")
    return ("\r\n".join(pat) + "\r\n", "\r\n".join(enc) + "\r\n", "\n".join(dia) + "\n")


def etl_inputs(root, seed, copies):
    """Write (once) the ETL input set for (seed, copies) under ``root``.

    Returns the directory; it holds patients.csv, encounters.csv,
    diagnoses.xml and expected.json.
    """
    d = os.path.join(root, f"etl-{VERSION}-s{seed}-k{copies}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    p, e, x = etl_files(seed, copies)
    _write_text(os.path.join(d, "patients.csv"), p)
    _write_text(os.path.join(d, "encounters.csv"), e)
    _write_text(os.path.join(d, "diagnoses.xml"), x)
    _write_text(os.path.join(d, "expected.json"), json.dumps(expected_etl(copies)))
    _write_text(os.path.join(d, "_DONE"), "")
    return d


# ----------------------------------------------------------- warehouse

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
          "merge order part query row scan slow small sort spark stream table the "
          "value vector window").split()
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def _days(a, b):
    return (b - a).days


def _ts_us(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed, sf):
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 50)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 40)
    n_user = max(n_cust // 10, 5)
    i64 = lambda a: pa.array(a, type=pa.int64())
    i32 = lambda a: pa.array(a, type=pa.int32())
    t = {}
    t["region"] = pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    t["customer"] = pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": i64(pk),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)})
    d0 = dt.date(1995, 1, 1)
    odays = rng.integers(0, _days(d0, dt.date(2001, 8, 1)) + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts_us("1995-01-01", odays * 86_400_000_000),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]})
    sdays = rng.integers(0, _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4)) + 1, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_us("1995-01-02", sdays * 86_400_000_000)})
    # distinct, increasing event timestamps over 30 days
    span = 30 * 86_400_000_000
    ev_us = np.sort(rng.choice(span, n_evt, replace=False))
    t["events"] = pa.table({
        "event_id": i64(np.arange(n_evt)),
        "ts": _ts_us("2024-01-01", ev_us),
        "user_id": i64(rng.integers(0, n_user, n_evt)),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(_VOCAB), rng.integers(10, 101))])
             for _ in range(n_doc)]
    # 5% planted near-duplicates: another document's text plus " dup"
    dup_ids = rng.choice(n_doc, n_doc // 20, replace=False)
    dup_set = set(dup_ids.tolist())
    originals = np.array([i for i in range(n_doc) if i not in dup_set])
    for d, o in zip(dup_ids, rng.choice(originals, len(dup_ids))):
        texts[d] = texts[o] + " dup"
    t["documents"] = pa.table({
        "doc_id": i64(np.arange(n_doc)),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(x) for x in texts])})
    return t


def warehouse_inputs(root, seed, sf):
    """Write (once) the star-schema tables for (seed, sf) under ``root``."""
    d = os.path.join(root, f"wh-{VERSION}-s{seed}-sf{sf:g}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for name, table in _tables(seed, sf).items():
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(table, path + ".tmp", compression="snappy")
        os.replace(path + ".tmp", path)
    rows = {name: pq.ParquetFile(os.path.join(d, f"{name}.parquet")).metadata.num_rows
            for name in TABLES}
    _write_text(os.path.join(d, "rows.json"), json.dumps(rows))
    _write_text(os.path.join(d, "_DONE"), "")
    return d
