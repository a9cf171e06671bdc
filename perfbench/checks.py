"""Output checks of the Spark workloads, computed apart from the program.

Each check returns {name: why} for what failed (empty when all hold).
They read the run's output parquet with DuckDB and recompute what it must
hold from the sf tables themselves: the expected text from lineitem x
documents with the transcripts template's extraction formula, the
oracle tables from SparkEntry.oracleSql, and method properties of
q_masked_pipeline.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["lineitem", "documents", "orders", "customer", "part",
          "supplier", "nation", "region", "events", "embeddings"]

# One row per input turn: (order key, turn index, fields of the text).
# turn_idx is row_number over (l_linenumber, l_partkey, l_suppkey) per
# order, documents join on l_orderkey mod the documents count.
TURNS_SQL = """
SELECT l_orderkey AS okey,
       CAST(row_number() OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_suppkey) AS INT) AS turn_idx,
       d.text AS dtext, l_linenumber AS lnum, l_returnflag AS rf, l_linestatus AS ls
FROM lineitem l JOIN documents d ON d.doc_id = l.l_orderkey % {n_docs}
"""

# The template keeps the h1, the document paragraph and the order facts.
EXPECTED_TEXT = ("'Conversation record' || chr(10) || dtext || chr(10) || 'order ' || "
                 "CAST(okey AS VARCHAR) || ' line ' || CAST(lnum AS VARCHAR) || "
                 "' flag ' || rf || ' status ' || ls")

WS = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"


def connect(sf, work):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '3GB'")
    con.execute("SET preserve_insertion_order = false")
    con.execute(f"SET temp_directory = '{work}/duckdb'")
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_docs, = one(con, "SELECT count(*) FROM documents")
    con.execute(f"CREATE VIEW turns AS {TURNS_SQL.format(n_docs=n_docs)}")
    return con


def one(con, sql):
    return con.execute(sql).fetchone()


def extract_batch(res, sf, work):
    info = res["info"]
    out, ind, held = info["out_dir"], info["in_dir"], info["held_dir"]
    lo, span = int(info["monster_lo"]), int(info["monster_span"])
    con = connect(sf, work)
    bad = {}
    con.execute(f"""CREATE VIEW expected AS
        SELECT CASE WHEN okey BETWEEN {lo} AND {lo + span - 1} THEN 'conv-{lo}'
                    ELSE 'conv-' || okey END AS conv_id,
               CAST(CASE WHEN okey BETWEEN {lo} AND {lo + span - 1}
                    THEN (okey - {lo}) * 32 + turn_idx ELSE turn_idx END AS INT) AS turn_idx,
               {EXPECTED_TEXT} AS text
        FROM turns""")
    con.execute(f"""CREATE VIEW output AS SELECT * FROM read_parquet(
        '{out}/extracted/*/*.parquet', filename=true, file_row_number=true,
        hive_partitioning=true)""")
    con.execute(f"""CREATE VIEW input AS SELECT * FROM read_parquet(
        ['{ind}/*.parquet', '{held}/*.parquet'], filename=true)""")

    n_exp, = one(con, "SELECT count(*) FROM expected")
    n_in, = one(con, "SELECT count(*) FROM input")
    n_out, n_keys = one(con, "SELECT count(*), count(DISTINCT (conv_id, turn_idx)) FROM output")
    if not n_exp == n_in == n_out == n_keys:
        bad["rows"] = f"expected {n_exp}, input {n_in}, output {n_out} rows / {n_keys} keys"
    mism, = one(con, """SELECT count(*) FROM expected e FULL OUTER JOIN output o
        USING (conv_id, turn_idx) WHERE e.text IS DISTINCT FROM o.extracted_text""")
    if mism:
        bad["text"] = f"{mism} turns differ from the template's expected text"
    unordered, = one(con, """SELECT count(*) FROM (
        SELECT conv_id, turn_idx,
               lag(conv_id) OVER w AS pc, lag(turn_idx) OVER w AS pt
        FROM output WINDOW w AS (PARTITION BY filename ORDER BY file_row_number))
        WHERE pc IS NOT NULL AND (conv_id < pc OR (conv_id = pc AND turn_idx <= pt))""")
    if unordered:
        bad["order"] = f"{unordered} rows out of (conv_id, turn_idx) order within their file"

    con.execute("""CREATE TEMP TABLE joined AS SELECT o.extracted_text AS x, i.text AS t, o.span_pos
        FROM output o JOIN input i USING (conv_id, turn_idx)""")
    spans, = one(con, f"""WITH s AS (SELECT x, t, unnest(span_pos) AS p,
               unnest(list_prepend(NULL, span_pos[:-2])) AS q FROM joined),
      b AS (SELECT x, t, p >> 32 AS st, p & 4294967295 AS en, q & 4294967295 AS prev_en
            FROM s WHERE p IS NOT NULL),
      c AS (SELECT *, trim(substring(t, st + 1, en - st), {WS}) AS piece FROM b)
      SELECT count(*) FROM c WHERE NOT (st < en AND en <= length(t) AND piece <> ''
            AND contains(x, piece) AND (prev_en IS NULL OR st >= prev_en))""")
    if spans:
        bad["spans"] = f"{spans} spans empty, outside the text, absent from it, or out of order"

    lineage, = one(con, f"SELECT sum(row_count) FROM read_parquet('{out}/lineage/*/*.parquet')")
    turns, = one(con, f"SELECT sum(n_turns) FROM read_parquet('{out}/metrics/*/*.parquet')")
    if not lineage == turns == n_in:
        bad["ledger"] = f"lineage rows {lineage}, metrics n_turns {turns}, input rows {n_in}"
    files = sorted(os.listdir(ind) + os.listdir(held))
    ck = con.execute(f"""SELECT file, count(*) FROM read_parquet('{out}/checkpoint/*.parquet')
        GROUP BY file""").fetchall()
    if sorted(os.path.basename(f) for f, _ in ck) != sorted(f for f in files if f.endswith(".parquet")) \
            or any(n != 1 for _, n in ck):
        bad["checkpoint"] = f"checkpoint lists {len(ck)} files, not each input file once"

    held_rows, = one(con, f"SELECT count(*) FROM read_parquet('{held}/*.parquet')")
    diff, = one(con, f"""SELECT count(*) FROM (
        (SELECT conv_id, turn_idx FROM output WHERE batch = '{info["resume_batch"]}'
         EXCEPT ALL SELECT conv_id, turn_idx FROM read_parquet('{held}/*.parquet'))
        UNION ALL
        (SELECT conv_id, turn_idx FROM read_parquet('{held}/*.parquet')
         EXCEPT ALL SELECT conv_id, turn_idx FROM output WHERE batch = '{info["resume_batch"]}'))""")
    if int(info["resume_rows"]) != held_rows or diff:
        bad["resume"] = (f"incremental batch processed {info['resume_rows']} rows, "
                         f"held back {held_rows}, {diff} keys differ")
    if int(info["again_rows"]) or int(info["again_files"]):
        bad["resume_again"] = f"a further call processed {info['again_rows']} rows"
    return bad


def table_hash(con, sql):
    """Row count and md5 of a relation with columns sorted by name and
    rows in ORDER BY ALL order (the hashing of scripts/verify_local.py)."""
    rel = con.sql(sql)
    sel = ", ".join(f'"{c}"' for c in sorted(rel.columns))
    rows = con.sql(f"SELECT {sel} FROM rel ORDER BY ALL").fetchall()
    h = hashlib.md5()
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def oracle(out, sf, work):
    """Compares each query with an oracle SQL against that SQL's DuckDB result."""
    con = connect(sf, work)
    bad = {}
    with open(os.path.join(os.path.dirname(out), "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    for q, sql in sorted(sqls.items()):
        got = table_hash(con, f"SELECT * FROM read_parquet('{out}/{q}/*.parquet')")
        want = table_hash(con, sql)
        if got != want:
            bad[f"oracle.{q}"] = f"spark {got[0]} rows {got[1]}, oracle {want[0]} rows {want[1]}"
    return bad


def masked(out, sf, work):
    """Method properties of q_masked_pipeline (its recursive-CTE oracle
    does not finish at sf0.1)."""
    con = connect(sf, work)
    bad = {}
    con.execute(f"CREATE VIEW m AS SELECT * FROM read_parquet('{out}/q_masked_pipeline/*.parquet')")
    n, = one(con, "SELECT count(*) FROM m")
    empty, = one(con, "SELECT count(*) FROM m WHERE span_end <= span_start")
    if n == 0 or empty:
        bad["masked.spans"] = f"{empty} of {n} spans empty"
    overlap, = one(con, """SELECT count(*) FROM (SELECT span_start,
        lag(span_end) OVER (PARTITION BY conv_key, chunk_idx ORDER BY span_start) AS pe FROM m)
        WHERE span_start < pe""")
    if overlap:
        bad["masked.disjoint"] = f"{overlap} spans overlap another span of their chunk"
    slots, = one(con, """SELECT count(*) FROM (SELECT conv_key, chunk_idx FROM m
        GROUP BY ALL HAVING count(DISTINCT (shard, seq_idx, seq_pos)) <> 1)""")
    shared, = one(con, """SELECT count(*) FROM (SELECT shard, seq_idx, seq_pos FROM m
        GROUP BY ALL HAVING count(DISTINCT (conv_key, chunk_idx)) <> 1)""")
    if slots or shared:
        bad["masked.slots"] = f"{slots} chunks in several slots, {shared} slots with several chunks"
    # conv_text joins the turns with newlines, so its space-separated word
    # count is 1 + the spaces of all turns (8 fixed ones per turn + dtext's)
    diff, = one(con, f"""WITH words AS (
          SELECT okey, 1 + sum(8 + length(dtext) - length(replace(dtext, ' ', ''))) AS w
          FROM turns GROUP BY okey),
        want AS (SELECT okey FROM words WHERE w >= 100),
        got AS (SELECT DISTINCT conv_key AS okey FROM m)
        SELECT count(*) FROM ((SELECT * FROM want EXCEPT SELECT * FROM got)
                              UNION ALL (SELECT * FROM got EXCEPT SELECT * FROM want))""")
    if diff:
        bad["masked.conversations"] = f"{diff} conversations differ from those with >= 100 words"
    return bad


def check(workload, res, sf, work):
    if workload != "batch_curation":
        return {}
    out, check_sf = res["info"]["curation_out_dir"], res["info"]["check_sf"]
    return {**extract_batch(res, sf, work), **oracle(out, check_sf, work),
            **masked(out, check_sf, work)}
