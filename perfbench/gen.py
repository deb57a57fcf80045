"""Seeded input generator for the benchmark.

Synthesises the ten tables of the program's catalog with the sf0.1
schema and value domains (dimension tables at sf0.1 size; 37.5 k orders,
~150 k lineitems, 25 k events, 2 k documents plus planted copies, 1 k
64-d embeddings) with DuckDB, from nothing but the seed. Every random
choice is a hash of (seed, row key, column salt), so the same seed gives
byte-identical tables whatever DuckDB's thread count. The seed picks:

- the permutation of embedding vectors onto ``vec_id`` (which vectors
  hold ids < 20 and so form the ANN query set),
- the bot user that owns about 1 in 7 events (the hot key that sizes the
  stream-stream join state),
- the documents (about 1 in 11 of those with 40+ words) that get a planted near-duplicate copy
  with one token replaced, and where in the document the edit falls.

Output: ``<out>/<table>.parquet`` plus ``manifest.json`` with the row
count and byte size of every table, the planted pairs and the bot user.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 37_500
N_USERS = 1_500
N_EVENTS = 25_000
N_DOCS = 2_000
N_VECS = 1_000
DIM = 64
N_LABELS = 10
BOT_EVERY = 7        # every 7th event (by hash) belongs to the bot user
PLANT_EVERY = 11     # about 1 doc in 11 (of 40+ words) gets a near-dup copy

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "en", "fr", "fr", "es", "es", "zh", "zh", "de"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["hot", "large", "cold", "tiny", "blue", "red", "green", "steel"]
P_NOUN = ["bolt", "ring", "nut", "gear", "pipe", "valve", "plate", "screw"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _lit(values: list[str]) -> str:
    return "[" + ", ".join("'" + v + "'" for v in values) + "]"


def _u(seed: int, key: str, salt: str) -> str:
    """Uniform double in [0, 1) from a hash of (seed, key, salt)."""
    return f"(hash({seed}, {key}, '{salt}') % 1000000007) / 1000000007.0"


def _pick(seed: int, key: str, salt: str, values: list[str]) -> str:
    return (
        f"{_lit(values)}[1 + (hash({seed}, {key}, '{salt}') % {len(values)})"
        "::BIGINT]"
    )


def _tables_sql(seed: int) -> dict[str, str]:
    u = lambda key, salt: _u(seed, key, salt)  # noqa: E731
    pick = lambda key, salt, vals: _pick(seed, key, salt, vals)  # noqa: E731
    bot = seed * 7919 % N_USERS
    return {
        "region": """
            SELECT r::INTEGER AS r_regionkey,
                   ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][r + 1]
                       AS r_name
            FROM range(5) t(r)""",
        "nation": """
            SELECT n::INTEGER AS n_nationkey, 'NATION_' || n AS n_name,
                   (n % 5)::INTEGER AS n_regionkey
            FROM range(25) t(n)""",
        "customer": f"""
            SELECT i::BIGINT AS c_custkey,
                   'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   ((hash({seed}, i, 'cn') % 25)::BIGINT)::INTEGER AS c_nationkey,
                   round(-999.99 + {u('i', 'ca')} * 10999.98, 2) AS c_acctbal,
                   {pick('i', 'cs', SEGMENTS)} AS c_mktsegment
            FROM range({N_CUSTOMER}) t(i)""",
        "supplier": f"""
            SELECT i::BIGINT AS s_suppkey,
                   'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   ((hash({seed}, i, 'sn') % 25)::BIGINT)::INTEGER AS s_nationkey,
                   round(-999.99 + {u('i', 'sa')} * 10999.98, 2) AS s_acctbal
            FROM range({N_SUPPLIER}) t(i)""",
        "part": f"""
            SELECT i::BIGINT AS p_partkey,
                   {pick('i', 'pa', P_ADJ)} || ' ' || {pick('i', 'pn', P_NOUN)}
                       AS p_name,
                   'Brand#' || (1 + (hash({seed}, i, 'pb') % 25)::BIGINT) AS p_brand,
                   {pick('i', 'pt', P_TYPES)} AS p_type,
                   (1 + (hash({seed}, i, 'ps') % 50)::BIGINT)::INTEGER AS p_size,
                   round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
            FROM range({N_PART}) t(i)""",
        "orders": f"""
            SELECT i::BIGINT AS o_orderkey,
                   ((hash({seed}, i, 'oc') % {N_CUSTOMER})::BIGINT) AS o_custkey,
                   {pick('i', 'os', ['F', 'O', 'P'])} AS o_orderstatus,
                   round(1000 + {u('i', 'op')} * 499000, 2) AS o_totalprice,
                   TIMESTAMP '1995-01-01'
                       + to_days(((hash({seed}, i, 'od') % 2404)::BIGINT)::INTEGER)
                       AS o_orderdate,
                   {pick('i', 'oq', PRIORITIES)} AS o_orderpriority
            FROM range({N_ORDERS}) t(i)""",
        # 1..7 lines per order (mean 4)
        "lineitem": f"""
            WITH o AS (
                SELECT i, 1 + (hash({seed}, i, 'ln') % 7)::BIGINT AS n_lines,
                       TIMESTAMP '1995-01-01'
                           + to_days(((hash({seed}, i, 'od') % 2404)::BIGINT)::INTEGER)
                           AS odate
                FROM range({N_ORDERS}) t(i)
            ), l AS (
                SELECT i, odate, unnest(range(1, n_lines + 1)) AS ln FROM o
            )
            SELECT i::BIGINT AS l_orderkey,
                   ((hash({seed}, i, ln, 'lp') % {N_PART})::BIGINT) AS l_partkey,
                   ((hash({seed}, i, ln, 'ls') % {N_SUPPLIER})::BIGINT)
                       AS l_suppkey,
                   ln::INTEGER AS l_linenumber,
                   (1 + (hash({seed}, i, ln, 'lq') % 50)::BIGINT)::DOUBLE AS l_quantity,
                   round(900 + ((hash({seed}, i, ln, 'le') % 10410000)::BIGINT) / 100.0, 2)
                       AS l_extendedprice,
                   ((hash({seed}, i, ln, 'ld') % 11)::BIGINT) / 100.0 AS l_discount,
                   ((hash({seed}, i, ln, 'lt') % 9)::BIGINT) / 100.0 AS l_tax,
                   {pick('i * 8 + ln', 'lr', ['A', 'N', 'R'])} AS l_returnflag,
                   {pick('i * 8 + ln', 'lx', ['F', 'O'])} AS l_linestatus,
                   odate + to_days((1 + (hash({seed}, i, ln, 'lh') % 121)::BIGINT)::INTEGER)
                       AS l_shipdate
            FROM l""",
        # events in time order over January 2024; the bot user owns
        # every event whose hash lands on 0 mod BOT_EVERY
        "events": f"""
            WITH e AS (
                SELECT i, (hash({seed}, i, 'et') % 2592000000000)::BIGINT AS off_us
                FROM range({N_EVENTS}) t(i)
            )
            SELECT (row_number() OVER (ORDER BY off_us, i) - 1)::BIGINT
                       AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(off_us::BIGINT)
                       AS ts,
                   CASE WHEN (hash({seed}, i, 'eb') % {BOT_EVERY})::BIGINT = 0
                        THEN {bot}
                        ELSE (hash({seed}, i, 'eu') % {N_USERS})::BIGINT
                   END::BIGINT AS user_id,
                   {pick('i', 'ey', EVENT_TYPES)} AS event_type,
                   round(((hash({seed}, i, 'ev') % 56022)::BIGINT) / 100.0, 2) AS value,
                   '{{"k": ' || ((hash({seed}, i, 'ek') % 100)::BIGINT) || '}}' AS props
            FROM e ORDER BY event_id""",
        # random word documents of 8..107 words; then the planted
        # near-duplicates: a copy of about 1 doc in 11 (docs of at least
        # 40 words, so the copy stays above the 0.8 shingle Jaccard) with the
        # word at one seeded position replaced
        "documents": f"""
            WITH d AS (
                SELECT i, 8 + (hash({seed}, i, 'dl') % 100)::BIGINT AS n_words
                FROM range({N_DOCS}) t(i)
            ), w AS (
                SELECT i, unnest(range(n_words)) AS j FROM d
            ), ww AS (
                SELECT i, list({pick('i * 128 + j', 'dw', WORDS)} ORDER BY j)
                           AS words
                FROM w GROUP BY i
            ), base AS (
                SELECT i AS doc_id, array_to_string(words, ' ') AS text, words
                FROM ww
            ), planted AS (
                SELECT {N_DOCS} + row_number() OVER (ORDER BY doc_id) - 1
                           AS doc_id,
                       doc_id AS orig_id,
                       list_transform(
                           words,
                           (x, j) -> CASE
                               WHEN j = 1 + (hash({seed}, doc_id, 'pp') % len(words))::BIGINT
                               THEN 'edited' ELSE x END
                       ) AS words
                FROM base
                WHERE len(words) >= 40
                  AND (hash({seed}, doc_id, 'pl') % {PLANT_EVERY})::BIGINT = 0
            ), docs AS (
                SELECT doc_id, text FROM base
                UNION ALL
                SELECT doc_id, array_to_string(words, ' ') FROM planted
            )
            SELECT doc_id::BIGINT AS doc_id, text,
                   {pick('doc_id', 'dg', LANGS)} AS lang,
                   'src' || (doc_id % 20) AS source,
                   length(text)::BIGINT AS n_chars
            FROM docs ORDER BY doc_id""",
    }


def _planted_pairs(con: duckdb.DuckDBPyConnection, seed: int) -> list[list[int]]:
    """(orig, copy) id pairs, recomputed the way the documents SQL
    numbers them."""
    rows = con.execute(
        f"""
        WITH d AS (
            SELECT i, 8 + (hash({seed}, i, 'dl') % 100)::BIGINT AS n_words
            FROM range({N_DOCS}) t(i)
        )
        SELECT i FROM d
        WHERE n_words >= 40 AND (hash({seed}, i, 'pl') % {PLANT_EVERY})::BIGINT = 0
        ORDER BY i"""
    ).fetchall()
    return [[orig, N_DOCS + k] for k, (orig,) in enumerate(rows)]


def _write_embeddings(path: str, seed: int) -> None:
    """Unit vectors around one random centre per label; the seed
    permutes which vector gets which vec_id."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, N_VECS)
    vecs = centres[labels] + 1.5 * rng.standard_normal((N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    ids = rng.permutation(N_VECS)
    order = np.argsort(ids)
    table = pa.table({
        "vec_id": pa.array(ids[order], pa.int64()),
        "embedding": pa.array(
            list(vecs[order].astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": pa.array(labels[order], pa.int32()),
    })
    pq.write_table(table, path)


def generate(out_dir: str, seed: int) -> dict:
    """Write every table for ``seed`` into ``out_dir`` (replacing it)
    and return the manifest."""
    tmp = out_dir + ".part"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        for name, sql in _tables_sql(seed).items():
            con.execute(
                f"COPY ({sql}) TO '{tmp}/{name}.parquet' (FORMAT PARQUET)"
            )
        _write_embeddings(f"{tmp}/embeddings.parquet", seed)
        tables = {}
        for name in sorted(os.listdir(tmp)):
            p = os.path.join(tmp, name)
            rows = con.execute(f"SELECT COUNT(*) FROM '{p}'").fetchone()[0]
            tables[name.removesuffix(".parquet")] = {
                "rows": rows, "bytes": os.path.getsize(p)
            }
        manifest = {
            "seed": seed,
            "tables": tables,
            "planted_pairs": _planted_pairs(con, seed),
            "bot_user": seed * 7919 % N_USERS,
        }
    finally:
        con.close()
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return manifest


def ensure(cache_root: str, seed: int) -> tuple[str, dict]:
    """Return (input dir, manifest) for ``seed``, generating it once
    and reusing it on later runs with the same seed."""
    out = os.path.join(cache_root, f"seed-{seed}")
    mpath = os.path.join(out, "manifest.json")
    if not os.path.exists(mpath):
        generate(out, seed)
    with open(mpath) as fh:
        return out, json.load(fh)
