"""Expected answers from DuckDB and the repo's own oracle SQL.

Each expected answer is computed once per (seed, size) and cached as JSON
under the work directory. The dedup gate works on the pairs a pass emitted,
so only its planted-pair reference is cached.
"""

import json
import os

import pyarrow as pa

import gen


def _cached(work, key, compute):
    path = os.path.join(work, "expected", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def _sql(sql_dir, name):
    with open(os.path.join(sql_dir, name)) as f:
        return f.read()


def qf_totals(work, sql_dir, sf_dir, seed, reps):
    """Lineage totals of q03_qf_turns over the generated events.

    Replicas share no conversation, so the totals are the sum over replicas,
    and a replica's totals are those of its residue class (gen.RESIDUE_PERIOD):
    q03 runs once per class over the 1x events shifted into that class.
    """
    def class_totals(c):
        def compute():
            con = gen._connect(work)
            try:
                events = gen.shifted_events_sql(sf_dir, f"(0, {gen.EVENT_CLASSES[c]}, 0)")
                con.execute(f"CREATE VIEW events AS {events}")
                q03 = _sql(sql_dir, "q03_qf_turns.sql")
                n, kept, pii = con.execute(
                    "SELECT count(*), CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT), "
                    "CAST(sum(CASE WHEN pii_found THEN 1 ELSE 0 END) AS BIGINT) "
                    f"FROM ({q03}) q").fetchone()
                return {"rows_in": n, "rows_kept": kept, "pii_rows": pii}
            finally:
                con.close()
        return _cached(work, f"qf_class-{gen.EVENT_CLASSES[c]}", compute)

    parts = [class_totals(c) for c in gen.event_classes(seed, reps)]
    return {k: sum(p[k] for p in parts) for k in ("rows_in", "rows_kept", "pii_rows")}


EVR_COLS = ["expectation_type", "domain", "success", "element_count",
            "missing_count", "unexpected_count", "observed"]


def suite_results(work, sql_dir, seed, li_reps, ev_reps, lineitem_dir, events_dir):
    """q01 / q04 oracle rows over the generated lineitem and events tables."""
    def compute():
        con = gen._connect(work)
        try:
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{lineitem_dir}/lineitem.parquet/*.parquet')")
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_dir}/events.parquet/*.parquet')")
            out = {}
            for key, name in [("lineitem", "q01_suite_lineitem.sql"),
                              ("transcripts", "q04_suite_transcripts.sql")]:
                cur = con.execute(_sql(sql_dir, name))
                cols = [d[0] for d in cur.description]
                out[key] = [{c: row[cols.index(c)] for c in EVR_COLS} for row in cur.fetchall()]
            return out
        finally:
            con.close()
    return _cached(work, f"suite_validate-s{seed}-x{li_reps}-x{ev_reps}", compute)


def _shingle_ctes(norm_sql, docs_sql):
    # the shingle definition of the repo's dedup oracles (DedupQueries)
    return f"""docs AS ({docs_sql}),
normd AS (SELECT doc_id, string_split({norm_sql}, ' ') AS w, {norm_sql} AS norm FROM docs),
sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
  THEN list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
  ELSE [norm] END) AS s FROM normd)"""


_JACCARD = """CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
    / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x))))"""


def exact_jaccard(work, sql_dir, docs_dir, pairs):
    """Exact n-gram Jaccard of each (doc_a, doc_b) pair, by DuckDB."""
    if not pairs:
        return {}
    con = gen._connect(work)
    try:
        con.register("p", pa.table({"doc_a": pa.array([a for a, _ in pairs], pa.int64()),
                                    "doc_b": pa.array([b for _, b in pairs], pa.int64())}))
        norm = _sql(sql_dir, "norm_text.sql")
        docs = (f"SELECT doc_id, text FROM read_parquet('{docs_dir}/documents.parquet/*.parquet') "
                "WHERE doc_id IN (SELECT doc_a FROM p UNION SELECT doc_b FROM p)")
        rows = con.execute(f"""WITH {_shingle_ctes(norm, docs)}
SELECT p.doc_a, p.doc_b, {_JACCARD} FROM p
JOIN sh sa ON sa.doc_id = p.doc_a JOIN sh sb ON sb.doc_id = p.doc_b""").fetchall()
        return {(a, b): j for a, b, j in rows}
    finally:
        con.close()


def planted_pairs(work, sql_dir, seed, reps, docs_dir):
    """Planted near-duplicate pairs whose exact Jaccard reaches 0.5."""
    def compute():
        pairs = [(t * 1000000 + d, t * 1000000 + d + 500000)
                 for t in gen.replica_tags(seed, reps) for d in range(0, 500000, 50)]
        con = gen._connect(work)
        try:
            base = con.execute("SELECT doc_id FROM read_parquet("
                               f"'{docs_dir}/documents.parquet/*.parquet')").fetchall()
        finally:
            con.close()
        ids = {r[0] for r in base}
        pairs = [p for p in pairs if p[0] in ids and p[1] in ids]
        j = exact_jaccard(work, sql_dir, docs_dir, pairs)
        return sorted([a, b] for (a, b), v in j.items() if v >= 0.5)
    return _cached(work, f"dedup_planted-s{seed}-x{reps}", compute)


def survivors(n_docs, pairs):
    """Documents left after keeping one per connected component (union-find)."""
    parent = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    merged = 0
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            merged += 1
    return n_docs - merged
