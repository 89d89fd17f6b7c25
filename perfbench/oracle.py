"""Answer check for `olap_mix`: each entry's Spark answer against DuckDB
running the entry's `SparkEntry.oracleSql` statement over the same
generated tables. Values are stringified, columns sorted by name and rows
sorted, then the two sides' fingerprints compared.

Both sides round doubles to a fixed number of decimals at the output edge.
On generated data a value can land on a rounding tie that the two engines
break differently (0.48125 -> 0.4812 in Spark, 0.4813 in DuckDB), so when
the fingerprints differ the rows are compared cell by cell and doubles may
differ by one unit in the fourth decimal. Such ties are counted in the
check's detail; any other difference fails the check."""
import hashlib
import math
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


TIE = 1e-4 * (1 + 1e-6)


def table(rel):
    """(column names sorted, rows as tuples in that column order)."""
    names = rel.columns
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [names[i] for i in order], [tuple(r[i] for i in order) for r in rel.fetchall()]


def fingerprint(names, rows):
    canon_rows = sorted(tuple(canon(v) for v in r) for r in rows)
    return hashlib.sha256(repr((names, canon_rows)).encode()).hexdigest()


def rounding_ties(got, want):
    """Cells that differ only by a rounding tie, or None if anything else
    differs. Rows are paired by their non-double cells, then doubles."""
    if len(got) != len(want):
        return None

    def key(r):
        return (tuple(canon(v) for v in r if not isinstance(v, float)),
                tuple(v for v in r if isinstance(v, float)))
    ties = 0
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if x != y:
                    if abs(x - y) > TIE:
                        return None
                    ties += 1
            elif canon(x) != canon(y):
                return None
    return ties


def compare(tables_dir, answers_dir, oracle_sql):
    """[(entry, ok, detail)] for every entry in oracle_sql."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = []
    for name in sorted(oracle_sql):
        path = os.path.join(answers_dir, name)
        try:
            got_names, got = table(con.sql(f"SELECT * FROM '{path}/*.parquet'"))
            want_names, want = table(con.sql(oracle_sql[name]))
        except Exception as e:  # a missing answer or a failing oracle is a failed check
            out.append((name, False, str(e).splitlines()[0]))
            continue
        detail = f"spark {len(got)} rows, oracle {len(want)} rows"
        if got_names != want_names:
            out.append((name, False, f"columns {got_names} vs {want_names}"))
        elif fingerprint(got_names, got) == fingerprint(want_names, want):
            out.append((name, True, detail))
        else:
            ties = rounding_ties(got, want)
            out.append((name, ties is not None,
                        detail + (f", {ties} rounding ties" if ties else "")))
    return out
