"""Seeded tables for the `query` workload, shaped like the declared queries'
testdata (TPC-H-like star schema, an `events` stream, `documents` and
`embeddings`), written as one parquet file each.

Every value is a function of (seed, row, column) through DuckDB's `hash`,
so the same seed gives the same files whatever the thread count.
"""

import json

import duckdb

VOCAB = ("the a of and to in is stream query row fast small spark group "
         "customer line sort hash batch dup data filter value big key order "
         "table scan merge part window join slow agg column vector").split()


def generate(out_dir, seed):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # u(i, salt): a seeded uniform double in [0, 1) per row and column
    con.execute(f"""CREATE MACRO u(i, salt) AS
        (hash(i::BIGINT * 1000003 + salt::BIGINT * 7919 + {int(seed)}::BIGINT * 104729) % 1000000007) / 1000000007.0""")
    con.execute(f"CREATE MACRO pick(i, salt, n) AS floor(u(i, salt) * n)::INTEGER")
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    con.execute(f"CREATE TABLE docs_src AS {documents_sql(vocab)}")
    sql = {
        "region": """SELECT i::INTEGER r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER n_nationkey, 'NATION_' || i n_name,
            (i % 5)::INTEGER n_regionkey FROM range(25) t(i)""",
        "customer": """SELECT i::BIGINT c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') c_name,
            pick(i, 1, 25) c_nationkey, round(u(i, 2) * 10800 - 900, 2) c_acctbal,
            ['MACHINERY','AUTOMOBILE','HOUSEHOLD','BUILDING','FURNITURE'][pick(i, 3, 5) + 1] c_mktsegment
            FROM range(150) t(i)""",
        "supplier": """SELECT i::BIGINT s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') s_name,
            pick(i, 4, 25) s_nationkey, round(u(i, 5) * 10000, 2) s_acctbal FROM range(10) t(i)""",
        "part": """SELECT i::BIGINT p_partkey,
            ['small','blue','cold','old','new','hot'][pick(i, 6, 6) + 1] || ' ' ||
            ['widget','rod','ring','anvil','plate'][pick(i, 7, 5) + 1] p_name,
            'Brand#' || (pick(i, 8, 25) + 1) p_brand,
            ['ECONOMY','LARGE','STANDARD','MEDIUM','SMALL','PROMO'][pick(i, 9, 6) + 1] p_type,
            (pick(i, 10, 50) + 1)::INTEGER p_size, round(900 + (i % 200) * 0.1, 2) p_retailprice
            FROM range(200) t(i)""",
        "orders": """SELECT i::BIGINT o_orderkey, pick(i, 11, 150)::BIGINT o_custkey,
            ['F','O','P'][pick(i, 12, 3) + 1] o_orderstatus, round(u(i, 13) * 300000 + 1000, 2) o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(pick(i, 14, 2404)) o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][pick(i, 15, 5) + 1] o_orderpriority
            FROM range(1500) t(i)""",
        "lineitem": """SELECT pick(i, 16, 1500)::BIGINT l_orderkey, pick(i, 17, 200)::BIGINT l_partkey,
            pick(i, 18, 10)::BIGINT l_suppkey, (pick(i, 19, 7) + 1)::INTEGER AS l_linenumber,
            (pick(i, 20, 50) + 1)::DOUBLE l_quantity, round(u(i, 21) * 100000 + 900, 2) l_extendedprice,
            pick(i, 22, 11) / 100.0 l_discount, pick(i, 23, 9) / 100.0 l_tax,
            ['A','N','R'][pick(i, 24, 3) + 1] l_returnflag, ['O','F'][pick(i, 25, 2) + 1] l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(pick(i, 26, 2498)) l_shipdate
            FROM range(6000) t(i)""",
        "events": """SELECT i::BIGINT event_id,
            TIMESTAMP '2024-01-01' + to_microseconds((i * 2592000000000 // 1000 + pick(i, 27, 2000000000))::BIGINT) ts,
            pick(i, 28, 15)::BIGINT user_id,
            ['signup','click','error','purchase','view'][pick(i, 29, 5) + 1] event_type,
            round(u(i, 30) * 327 + 0.03, 2) AS "value", '{"k": ' || pick(i, 31, 100) || '}' props
            FROM range(1000) t(i)""",
        "documents": """SELECT doc_id, "text",
            ['en','en','zh','de','fr','es'][pick(doc_id, 34, 6) + 1] AS lang,
            'src' || (doc_id % 20) AS "source", length("text")::BIGINT AS n_chars FROM docs_src""",
        "embeddings": """SELECT i::BIGINT vec_id,
            list_transform(range(64), j -> ((u(i * 64 + j, 35) - 0.5) * 0.9)::FLOAT) AS embedding,
            pick(i, 36, 10)::INTEGER AS label FROM range(500) t(i)""",
    }
    for name, q in sql.items():
        con.execute(f"COPY ({q} ORDER BY 1) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
    # the near-duplicate pairs the generator made, for the detector checks
    truth = {}
    for kind, cond in (("exact", "a.text = b.text"), ("near", "a.src = b.doc_id AND a.text <> b.text")):
        rows = con.execute(f"""SELECT DISTINCT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
            FROM docs_src a JOIN docs_src b ON {cond} AND a.doc_id <> b.doc_id ORDER BY 1, 2""").fetchall()
        truth[kind] = [list(r) for r in rows]
    with open(f"{out_dir}/neardup_truth.json", "w") as f:
        json.dump(truth, f)
    con.close()


DISTINCT_DOCS = 400
EXACT_COPIES = 50
NEAR_COPIES = 50


def documents_sql(vocab):
    """(doc_id, src, text): DISTINCT_DOCS random texts, then EXACT_COPIES
    exact and NEAR_COPIES one-token-changed copies (`src` names the source).
    Copies take their source from the distinct documents of at least 60
    tokens, so one changed token keeps the 3-shingle Jaccard similarity
    above 0.9."""
    n = DISTINCT_DOCS
    base = f"""SELECT i::BIGINT AS doc_id, NULL::BIGINT AS src,
          array_to_string(list_transform(range(10 + pick(i, 32, 90)),
            j -> {vocab}[pick(i * 128 + j, 33, {len(VOCAB)}) + 1]), ' ') AS "text"
        FROM range({n}) t(i)"""
    longs = f"SELECT row_number() OVER (ORDER BY doc_id) - 1 AS k, doc_id, \"text\" FROM ({base}) WHERE 10 + pick(doc_id, 32, 90) >= 60"
    copies = f"""SELECT ({n} + c)::BIGINT AS doc_id, l.doc_id AS src,
          CASE WHEN c < {EXACT_COPIES} THEN l.text ELSE
            array_to_string(list_transform(string_split(l.text, ' '), (w, x) ->
              CASE WHEN x = 2 + pick(c, 37, 50) THEN {vocab}[(list_position({vocab}, w) + pick(c, 38, {len(VOCAB)} - 1)) % {len(VOCAB)} + 1] ELSE w END), ' ')
          END AS "text"
        FROM range({EXACT_COPIES + NEAR_COPIES}) t(c)
        JOIN ({longs}) l ON l.k = pick(c, 39, (SELECT count(*) FROM ({longs})))"""
    return f"{base} UNION ALL {copies}"


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], int(sys.argv[2]))
