"""Output checks for the graft benchmark, run outside the timed window.

Catalog queries are compared with their DuckDB oracle SQL using the same
canonical comparison as the repository's correctness gate (columns sorted by
name, rows sorted on every column, exact value equality with NULL == NULL).
Published pipeline tables are checked against the row counts and invariants
the session generator derived from its own construction.
"""
import glob
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from inputs import CATALOG_TABLES, EXACT_TABLES, PUBLISHED_TABLES


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)


def _mismatch(spark_df, duck_df):
    """None when equal under the canonical comparison, else a reason."""
    a, b = _canon(spark_df), _canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        eq = (av.astype(object).where(pd.notna(av), None) ==
              bv.astype(object).where(pd.notna(bv), None)) | (pd.isna(av) & pd.isna(bv))
        if not eq.all():
            i = eq.idxmin()
            return f"col {c} row {i}: {av[i]!r} vs {bv[i]!r}"
    return None


def catalog(data_dir, out_dir, oracle, warmup, passes):
    """Returns (attempted, failed, reasons) over the measured passes.

    A query's content is checked once, on the output its warm-up run wrote;
    every measured run of it must return the same row count.
    """
    con = duckdb.connect()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad, want_rows, reasons = set(), {}, []
    for op in warmup["ops"]:
        q = op["name"]
        if op["error"]:
            bad.add(q)
            reasons.append(f"{q}: warm-up {op['error']}")
            continue
        files = glob.glob(f"{out_dir}/dumps/{q}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if q in oracle:
            why = _mismatch(got, con.execute(oracle[q]).fetchdf())
            if why:
                bad.add(q)
                reasons.append(f"{q}: {why}")
        want_rows[q] = len(got)
    attempted = failed = 0
    for p in passes:
        for op in p["ops"]:
            attempted += 1
            q = op["name"]
            if op["error"] or q in bad or op["rows"] != want_rows.get(q):
                failed += 1
                if op["error"] or q not in bad:
                    reasons.append(f"{q} pass {p['index']}: rows {op['rows']} "
                                   f"want {want_rows.get(q)} {op['error'] or ''}")
    return attempted, failed, reasons


def pipeline(out_dir, expected, invariants, passes):
    """Returns (attempted, failed, reasons): every published table of every
    measured pass is one operation; the final published state gets the
    invariant checks."""
    pub = f"{out_dir}/published"
    con = duckdb.connect()
    reasons, final_bad = [], set()

    def rows(sql):
        return con.execute(sql).fetchone()[0]

    def tbl(name):
        return f"read_parquet('{pub}/{name}/*.parquet')"

    try:
        if rows(f"SELECT count(*) FROM {tbl('joined')} j ANTI JOIN {tbl('admissions')} a "
                f"USING (uid)") or rows(f"SELECT count(DISTINCT uid) FROM {tbl('joined')}") \
                != expected["admissions"]:
            final_bad.add("joined")
        if rows(f"SELECT sum(n_admissions) FROM {tbl('summary_counts')}") != expected["admissions"]:
            final_bad.add("summary_counts")
        card = dict(con.execute(
            f"SELECT col_name || '.' || item, value_d FROM {tbl('dataset_card')} "
            f"WHERE item IN ('n_distinct', 'n_non_null')").fetchall())
        if card.get("facility.n_distinct") != invariants["n_facilities"] or \
                card.get("los_days.n_non_null") != invariants["n_discharged"]:
            final_bad.add("dataset_card")
    except duckdb.Error as e:
        reasons.append(f"final-state check: {e}")
        final_bad.update(PUBLISHED_TABLES)
    reasons += [f"{t}: final-state invariant failed" for t in sorted(final_bad)]

    attempted = failed = 0
    card_rows = set()
    last = passes[-1]["index"] if passes else None
    for p in passes:
        seen = {}
        for op in p["ops"]:
            seen[op["name"]] = op
        for name in sorted(set(PUBLISHED_TABLES) | set(seen)):
            attempted += 1
            op = seen.get(name)
            want = expected.get(name)
            ok = (op is not None and not op["error"] and name in PUBLISHED_TABLES
                  and (op["rows"] == want if name in EXACT_TABLES else op["rows"] > 0)
                  and not (p["index"] == last and name in final_bad))
            if name == "dataset_card" and op is not None:
                card_rows.add(op["rows"])
            if not ok:
                failed += 1
                reasons.append(f"{name} pass {p['index']}: rows "
                               f"{op and op['rows']} want {want} {op and op['error'] or ''}")
    if len(card_rows) > 1:
        reasons.append(f"dataset_card row count varies across passes: {sorted(card_rows)}")
        failed += 1
    return attempted, failed, reasons


def fingerprint(data_dir, tables):
    """{table: [files, row groups, rows]} of the generated inputs."""
    out = {}
    for t in tables:
        files = sorted(glob.glob(f"{data_dir}/{t}.parquet"))
        mds = [pq.ParquetFile(f).metadata for f in files if os.path.isfile(f)]
        out[t] = [len(mds), sum(m.num_row_groups for m in mds), sum(m.num_rows for m in mds)]
    return out
