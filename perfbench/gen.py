"""Seeded input generator for the benchmark workloads.

Reads only the sf0.1 test tables and writes replicated, multi-row-group
parquet under the work directory, cached by (table, seed, replicas). The
seed picks each replica's id offsets. Transcript residues (event_id % 97,
% 23, ...) and LSH band keys depend on those offsets, so a new seed gives
each replica different planted content while keeping the shape (turns per
conversation, rows per order, near-dup structure) of the source table.
"""

import os
import random
import shutil
import time

import duckdb

# Each table is a directory of FILES parquet files of several row groups, so
# a scan splits across 4 cores even where a table is a few megabytes (Spark
# packs files of less than 4 MB into one split).
FILES = 8
ROW_GROUP_ROWS = 16384


def _offsets(seed, table, reps, spans):
    """One tuple per replica: (replica, offset for each (stride, jitter))."""
    rng = random.Random(f"{seed}:{table}")
    return [(r,) + tuple(r * stride + rng.randrange(jitter) for stride, jitter in spans)
            for r in range(reps)]


def _values(rows):
    return ", ".join("(" + ", ".join(str(v) for v in row) + ")" for row in rows)


def _write(con, sql, path, key):
    """Write `sql` as FILES parquet files under directory `path`, row r going
    to file `key` % FILES; each file keeps the query's row order."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con.execute(f"CREATE OR REPLACE TEMP TABLE __out AS {sql}")
    for i in range(FILES):
        con.execute(f"COPY (SELECT * EXCLUDE (__rn) FROM (SELECT *, row_number() OVER () AS __rn "
                    f"FROM __out) WHERE ({key}) % {FILES} = {i} ORDER BY __rn) "
                    f"TO '{tmp}/part-{i}.parquet' (FORMAT parquet, ROW_GROUP_SIZE {ROW_GROUP_ROWS})")
    con.execute("DROP TABLE __out")
    os.replace(tmp, path)


def _connect(work):
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET threads = 4")
    con.execute("SET enable_progress_bar = false")
    con.execute("SET memory_limit = '3GB'")
    return con


# Product of the moduli the transcript SQL plants content with (event_id %
# 97, 23, 19, 17, 13, 7, 5, 11, 29, 37, 41, 43). Shifting every event id of a
# conversation by a multiple of it changes no planted rule, so a replica's
# quality-filter totals depend only on its residue class (its offset modulo
# this number); its user offset only renames conversations.
RESIDUE_PERIOD = 6822730371892435

# Residue classes a replica can take. The seed picks one per replica; the
# q03 oracle runs once per class over the 1x events (oracle.qf_totals).
EVENT_CLASSES = [101, 30011, 500009]


def event_classes(seed, reps):
    rng = random.Random(f"{seed}:events")
    return [rng.randrange(len(EVENT_CLASSES)) for _ in range(reps)]


def events_sql(sf_dir, seed, reps, every=1):
    # user_id < 1e6 in the source, so a stride of 1e6 keeps every
    # conversation of one replica apart from the others
    rng = random.Random(f"{seed}:users")
    offs = [(r, r * RESIDUE_PERIOD + EVENT_CLASSES[c], r * 10**6 + rng.randrange(5 * 10**5))
            for r, c in enumerate(event_classes(seed, reps))]
    return shifted_events_sql(sf_dir, _values(offs), every)


def shifted_events_sql(sf_dir, offsets, every=1):
    return f"""
SELECT e.event_id + o.eoff AS event_id, e.ts, e.user_id + o.uoff AS user_id,
       e.event_type, e.value, e.props
FROM read_parquet('{sf_dir}/events.parquet') e
CROSS JOIN (VALUES {offsets}) o(r, eoff, uoff)
WHERE e.user_id % {every} = 0
ORDER BY o.r, e.event_id"""


def lineitem_sql(sf_dir, seed, reps, every=1):
    # l_orderkey < 1e7; partkey/suppkey shifts move the within-record
    # uniqueness count, so suite results differ by seed.
    offs = _offsets(seed, "lineitem", reps, [(10**7, 10**6), (0, 1000), (0, 1000)])
    return f"""
SELECT l.l_orderkey + o.ooff AS l_orderkey, l.l_partkey + o.poff AS l_partkey,
       l.l_suppkey + o.soff AS l_suppkey, l.l_linenumber, l.l_quantity,
       l.l_extendedprice, l.l_discount, l.l_tax, l.l_returnflag, l.l_linestatus,
       l.l_shipdate
FROM read_parquet('{sf_dir}/lineitem.parquet') l
CROSS JOIN (VALUES {_values(offs)}) o(r, ooff, poff, soff)
WHERE l.l_orderkey % {every} = 0
ORDER BY o.r, l.l_orderkey, l.l_linenumber"""


def replica_tags(seed, reps):
    """Distinct replica tags for the document corpus (salt suffix + id block)."""
    return random.Random(f"{seed}:documents").sample(range(1, 4000), reps)


def documents_sql(sf_dir, seed, reps, every=1):
    # The DedupScalingBench.corpus scheme: every 50th document gets a planted
    # near-duplicate (id + 500000, three-word tail); each replica salts every
    # word with its tag, so no shingle is shared across replicas.
    tags = [(t,) for t in replica_tags(seed, reps)]
    return f"""
WITH base AS (
  SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')
  WHERE doc_id % {every} = 0
), planted AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 500000, text || ' extra tail words' FROM base WHERE doc_id % 50 = 0
)
SELECT p.doc_id + CAST(t.tag AS BIGINT) * 1000000 AS doc_id,
       regexp_replace(p.text, '(\\S+)', '\\1r' || CAST(t.tag AS VARCHAR), 'g') AS text
FROM planted p CROSS JOIN (VALUES {_values(tags)}) t(tag)
ORDER BY t.tag, p.doc_id"""


def table(work, sf_dir, name, seed, reps, transcript_sql=None, every=1):
    """Path of the cached parquet for (name, seed, reps, every), generating it
    if absent. `every` keeps one conversation, order or document in that many.

    Returns (directory, seconds spent generating; 0.0 on a cache hit).
    """
    d = os.path.join(work, "inputs", f"{name}-s{seed}-x{reps}" + (f"-e{every}" if every > 1 else ""))
    fname = {"events": "events.parquet", "lineitem": "lineitem.parquet",
             "transcripts": "transcripts.parquet", "documents": "documents.parquet"}[name]
    path = os.path.join(d, fname)
    if os.path.exists(path):
        return d, 0.0
    t0 = time.monotonic()
    os.makedirs(d, exist_ok=True)
    con = _connect(work)
    try:
        if name == "events":
            _write(con, events_sql(sf_dir, seed, reps, every), path, "event_id")
        elif name == "lineitem":
            _write(con, lineitem_sql(sf_dir, seed, reps, every), path, "l_orderkey")
        elif name == "documents":
            _write(con, documents_sql(sf_dir, seed, reps, every), path, "doc_id")
        elif name == "transcripts":
            # the stored table is the repo's own sessionizing SQL over the
            # replicated events (the same SQL the q04 oracle embeds)
            ev, _ = table(work, sf_dir, "events", seed, reps, every=every)
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{ev}/events.parquet/*.parquet')")
            _write(con, f"SELECT * FROM ({transcript_sql.strip()}) t ORDER BY conv_id, turn_idx", path,
                   "hash(conv_id)")
    except BaseException:
        shutil.rmtree(d, ignore_errors=True)
        raise
    finally:
        con.close()
    return d, time.monotonic() - t0
