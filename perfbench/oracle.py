"""DuckDB oracle check for the `query` workload.

Each query's Spark result (one parquet directory per query) and its oracle
SQL, run by DuckDB over the same tables, are reduced to a canonical
fingerprint: columns sorted by name, rows in result order, every value
rendered as a string through pandas, floats rounded to 6 places. The two
fingerprints must be equal.
"""

import hashlib
import json
import math

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canonical_rows(df):
    df = df[sorted(df.columns)]
    out = []
    for row in df.itertuples(index=False, name=None):
        r = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
                    if v == 0:
                        v = 0.0
            r.append(str(v))
        out.append(tuple(r))
    return out


def fingerprint(df):
    body = json.dumps([sorted(df.columns), canonical_rows(df)])
    return hashlib.sha256(body.encode()).hexdigest()


def check(data_dir, results_dir, oracle_sql):
    """{query name: None if the fingerprints match, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name in sorted(oracle_sql):
        try:
            odf = con.execute(oracle_sql[name]).df()
            sdf = con.execute(
                f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").df()
        except Exception as e:  # a query that cannot be checked has failed
            out[name] = f"unreadable: {str(e).splitlines()[0]}"
            continue
        if fingerprint(sdf) == fingerprint(odf):
            out[name] = None
        else:
            out[name] = (f"fingerprint differs (rows spark={len(sdf)} oracle={len(odf)}, "
                         f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)})")
    con.close()
    return out
