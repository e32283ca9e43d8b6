"""Seeded inputs for the graft benchmark.

Two generators, both pure functions of (seed, size):

* ``catalog_tables`` writes the ten catalog tables (region, nation, customer,
  supplier, part, orders, lineitem, events, documents, embeddings) with the
  same schemas, value domains and single-file, single-row-group parquet
  layout as the repository's synthetic test data, scaled by ``sf``.
* ``session_exports`` writes raw clinical session exports (one JSON document
  per row, column ``json``) for ``ReferencePipeline`` and returns, from its
  own construction, the row count every published table must have.
"""
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]

_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row "
          "the agg key query a scan batch").split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def _days(rng, n, start, end):
    """n random midnight timestamps in [start, end] as datetime64[us]."""
    span = (np.datetime64(end) - np.datetime64(start)).astype("timedelta64[D]").astype(int)
    off = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return (np.datetime64(start, "D") + off).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(out_dir, sf, seed):
    """Write the catalog tables at scale factor ``sf`` under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    n_users = max(15, int(15000 * sf))
    i32 = pa.int32()

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        f"{out_dir}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}),
        f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}),
        f"{out_dir}/lineitem.parquet")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86400 * 10**6
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, month_us, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")
    # documents: bag-of-words text; 5% are an earlier document's text with a
    # " dup" suffix (the near-duplicate families the dedup queries find)
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out_dir}/documents.parquet")
    vec = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)}),
        f"{out_dir}/embeddings.parquet")


# ── session exports ────────────────────────────────────────────────────────

_DIAGNOSES = [("SEP", "Sepsis"), ("JAU", "Jaundice"), ("PRE", "Prematurity"),
              ("RD", "Respiratory distress"), ("HIE", "Hypoxic injury")]
_OUTCOMES = [("DC", "Discharged"), ("D", "NND less than 24 hrs old"),
             ("TRF", "Transferred"), ("DD", "NND more than 24 hrs old")]
_FREE_ORG = ["found KLESIELLA colonies", "kleb spp", "klebsiella noted"]
_BASE_DAY = dt.datetime(2025, 1, 1, 8, 0, 0)
# the published tables whose row count follows from the generator alone;
# dataset_card's count depends on the data's histogram shape and is only
# required to be non-empty
EXACT_TABLES = ["admissions", "discharges", "repeatables", "joined",
                "summary_counts", "completeness", "exceptions",
                "combined_diagnoses", "rule_exceptions", "summary_neolab",
                "summary_baseline", "summary_day1_vitals", "summary_day2_vitals",
                "summary_day3_vitals", "summary_joined_vitals",
                "exploded_diagnoses"]
PUBLISHED_TABLES = sorted(EXACT_TABLES + ["dataset_card"])


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _entry(key, value, label):
    return {"key": key, "values": [{"value": value, "label": label}]}


def session_exports(path, n_patients, seed):
    """Write ``n_patients`` admissions' worth of raw exports to ``path``.

    Returns (raw row count, {table: expected rows}, {invariant: value}).
    """
    r = random.Random(seed)
    docs = []
    exp = dict.fromkeys(EXACT_TABLES, 0)
    exp["completeness"] = 1
    groups = set()
    n_adm_flagged = 0
    n_discharged = 0
    # uid-less admissions are keyed by their admission date, so those dates
    # must be unique among them
    free_days = r.sample(range(730), k=730)

    def admission(uid, fac, start, kind_date, temp):
        """One admission session; returns (doc, n_diag, vitals offsets, n_rep_diag)."""
        entries = [_entry("DateAdmission", kind_date.strftime("%Y-%m-%d"), "adm")]
        if temp is not None:
            entries.append(_entry("Temp", temp, "T"))
        entries += [_entry("BirthWeight", str(r.randrange(1000, 4500, 10)), "BW"),
                    _entry("Gestation", str(r.randint(26, 42)), "wks"),
                    _entry("OFC", str(r.randint(28, 38)), "cm")]
        diags = r.sample(_DIAGNOSES, k=r.choice([0, 1, 1, 2, 3]))
        if diags:
            entries.append({"key": "Diagnoses", "values": [
                {"value": v, "label": l} for v, l in diags]})
        if r.random() < 0.05:
            entries += [_entry("Org1", "Oth", "Other organism"),
                        _entry("OtherOrg1", r.choice(_FREE_ORG), "Other")]
        offsets = sorted([0] + [r.randint(0, 4) for _ in range(r.randint(0, 4))])
        vitals = [{"id": f"m{j}", "createdAt": _iso(start + dt.timedelta(days=o, hours=j)),
                   "Temp": {"value": f"{r.uniform(35.5, 38.5):.1f}"}}
                  for j, o in enumerate(offsets)]
        rep_diag = [{"id": f"d{j}", "createdAt": _iso(start + dt.timedelta(hours=j + 1)),
                     "Diag": {"value": r.choice(_DIAGNOSES)[1]}}
                    for j in range(r.choice([0, 0, 1, 2]))]
        doc = {"scriptid": "adm", "facility": fac, "started_at": _iso(start),
               "completed_at": _iso(start + dt.timedelta(minutes=30)),
               "entries": entries,
               "repeatables": {"vitals": vitals, "diagnoses": rep_diag}}
        if uid is not None:
            doc["uid"] = uid
        return doc, len(diags), offsets, len(rep_diag)

    def count_admission(fac, start, n_diag, offsets, n_rep, temp):
        nonlocal n_adm_flagged
        exp["admissions"] += 1
        exp["joined"] += 1
        exp["summary_baseline"] += 1
        groups.add((fac, start.year * 100 + start.month))
        exp["repeatables"] += len(offsets) + n_rep
        exp["exploded_diagnoses"] += n_diag
        exp["combined_diagnoses"] += n_diag + n_rep
        for d in (1, 2, 3):
            exp[f"summary_day{d}_vitals"] += offsets.count(d - 1)
        if temp is None or not 30.0 <= float(temp) <= 43.0:
            n_adm_flagged += 1

    def temp_value():
        x = r.random()
        if x < 0.03:
            return None                                 # missing: required field
        if x < 0.07:
            return f"{r.uniform(97.0, 101.0):.1f}"      # Fahrenheit outlier
        return f"{r.uniform(35.5, 38.5):.1f}"

    def discharge(uid, fac, start, extra_date=None):
        out_v, out_l = r.choice(_OUTCOMES)
        entries = [_entry("NeoTreeOutcome", out_v, out_l),
                   _entry("BirthWeight", str(r.randrange(1000, 4500, 10)), "BW"),
                   _entry("Gestation", str(r.randint(26, 42)), "wks"),
                   _entry("OFC", str(r.randint(28, 38)), "cm")]
        if extra_date is not None:
            entries.append(_entry("DateDischarge", extra_date.strftime("%Y-%m-%d"), "dis"))
        return {"scriptid": "dis", "uid": uid, "facility": fac,
                "started_at": _iso(start),
                "completed_at": _iso(start + dt.timedelta(minutes=30)),
                "entries": entries}

    for i in range(n_patients):
        uid, fac = f"u{i}", f"F{r.randrange(8)}"
        start = _BASE_DAY + dt.timedelta(days=r.randrange(700), minutes=r.randrange(600))
        kind = r.random()
        if kind < 0.02:                                 # unrecoverable
            docs.append({"scriptid": "adm", "facility": fac,
                         "entries": [_entry("Temp", "36.5", "T")]})
            exp["exceptions"] += 1
            continue
        if kind < 0.04:                                 # uid-less, keyed by date
            day = _BASE_DAY + dt.timedelta(days=free_days.pop())
            temp = temp_value()
            doc, nd, offs, nr = admission(None, fac, day, day, temp)
            docs.append(doc)
            count_admission(fac, day, nd, offs, nr, temp)
            continue
        records = 1
        if kind < 0.07:                                 # same uid, two records
            records = 2
            for k in range(2):
                s = start + dt.timedelta(days=k)
                temp = temp_value()
                doc, nd, offs, nr = admission(uid, fac, s, s, temp)
                docs.append(doc)
                count_admission(fac, s, nd, offs, nr, temp)
        else:
            temp = temp_value()
            doc, nd, offs, nr = admission(uid, fac, start, start, temp)
            docs.append(doc)
            if kind < 0.12:                             # resubmission: latest wins
                docs.append(json.loads(json.dumps(doc)))
                docs[-2]["started_at"] = _iso(start - dt.timedelta(hours=2))
            count_admission(fac, start, nd, offs, nr, temp)
        if r.random() < 0.8:
            n_discharged += records
            out = start + dt.timedelta(days=r.randint(1, 10))
            if r.random() < 0.06:                       # two discharge candidates
                docs.append(discharge(uid, fac, out, out))
                later = out + dt.timedelta(days=1)
                docs.append(discharge(uid, fac, later, later))
                exp["discharges"] += 2
            else:
                docs.append(discharge(uid, fac, out))
                exp["discharges"] += 1
    exp["summary_counts"] = len(groups)
    exp["rule_exceptions"] = n_adm_flagged
    exp["summary_joined_vitals"] = sum(exp[f"summary_day{d}_vitals"] for d in (1, 2, 3))

    # lab cultures: one episode per patient, distinct culture dates; uids
    # with the test prefix are scrubbed from the summary
    for j in range(max(2, n_patients // 10)):
        uid = f"0000t{j}" if j % 10 == 0 else f"n{j}"
        fac = f"F{r.randrange(8)}"
        day0 = _BASE_DAY + dt.timedelta(days=r.randrange(600))
        for c in range(r.randint(1, 3)):
            taken = day0 + dt.timedelta(days=3 * c)
            reported = taken + dt.timedelta(days=2)
            final = r.random() < 0.7
            docs.append({"scriptid": "lab", "uid": uid, "facility": fac,
                         "started_at": _iso(reported), "completed_at": _iso(reported),
                         "entries": [
                             _entry("Episode", "1", "Episode"),
                             _entry("DateBCR", reported.strftime("%Y-%m-%d"), "Reported"),
                             _entry("DateBCT", taken.strftime("%Y-%m-%d"), "Taken"),
                             _entry("BCType", "CULTURE FINAL" if final else "GRAM PRELIMINARY", "Type"),
                             _entry("BCResult", r.choice(["Pos", "Neg", "NegP", "PosP"]), "Result"),
                             _entry("Org1", r.choice(["CONS", "ECOLI", "KLS"]), "Org"),
                             _entry("OtherOrg1", "", "")]})
        if not uid.startswith("0000"):
            exp["summary_neolab"] += 1

    lines = [json.dumps(d, separators=(",", ":")) for d in docs]
    for k in range(max(1, n_patients // 100)):          # corrupt exports
        lines.append(f"broken json {{{{{{ {k}")
        exp["exceptions"] += 1
    r.shuffle(lines)
    pq.write_table(pa.table({"json": lines}), path)
    invariants = {"n_facilities": len({g[0] for g in groups}),
                  "n_discharged": n_discharged}
    return len(lines), exp, invariants
