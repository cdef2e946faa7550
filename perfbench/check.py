"""Output checks.

Batch keys are compared with their expected output under the rules of
tools/compare.py: column names and DuckDB column types equal, row counts
equal, and the two multisets of rows equal (EXCEPT ALL both ways).

Expected outputs come from DuckDB running the key's SparkEntry.oracleSql
on the same input tables, cached per (SQL, input) digest. The near-dup
oracles are all-pairs list-function joins whose DuckDB cost (~60 us a
pair) is far above a run's budget at the workload's corpus size, so for
those keys the expected output is computed by an exact Python transcript
of the same SQL (`neardup_expected`), and each run re-derives the DuckDB
oracle on a seeded sub-corpus and requires the transcript to agree with it.
"""
import bisect
import decimal
import glob
import hashlib
import math
import os
import random

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def connect(table_dir, tmp_dir):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        path = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def describe(con, rel_sql):
    return [(r[0], r[1]) for r in con.execute(f"DESCRIBE {rel_sql}").fetchall()]


def spark_rel(out_dir):
    """Relation over a Spark-written parquet directory, or None if empty."""
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        return None
    return f"(SELECT * FROM read_parquet('{out_dir}/*.parquet'))"


def compare(con, actual, expected):
    """None when relation `actual` equals relation `expected` (names,
    DuckDB types, row count, multiset of rows), else a one-line reason."""
    if actual is None:
        return "no output"
    atypes = dict(describe(con, f"SELECT * FROM {actual}"))
    etypes = dict(describe(con, f"SELECT * FROM {expected}"))
    if sorted(atypes) != sorted(etypes):
        return f"columns {sorted(atypes)} vs expected {sorted(etypes)}"
    if atypes != etypes:
        return "types " + ", ".join(f"{c}: {atypes[c]} vs {etypes[c]}"
                                    for c in atypes if atypes[c] != etypes[c])
    cols = ", ".join(f'"{c}"' for c in sorted(atypes))
    a = f"(SELECT {cols} FROM {actual})"
    e = f"(SELECT {cols} FROM {expected})"
    n_a = con.execute(f"SELECT count(*) FROM {a}").fetchone()[0]
    n_e = con.execute(f"SELECT count(*) FROM {e}").fetchone()[0]
    if n_a != n_e:
        return f"rows {n_a} vs expected {n_e}"
    d1 = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {e})").fetchone()[0]
    d2 = con.execute(f"SELECT count(*) FROM ({e} EXCEPT ALL {a})").fetchone()[0]
    if d1 or d2:
        return f"multiset diff: {d1} rows only in output, {d2} only expected"
    return None


def materialize(con, name, sql):
    """Evaluate `sql` once into a table; returns it as a relation."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {sql}")
    return f"(SELECT * FROM {name})"


def file_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def oracle_expected(con, sql, input_digest, cache_dir):
    """Relation holding DuckDB's result for `sql`, cached on disk."""
    key = hashlib.sha256((sql + "\0" + input_digest).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
        os.replace(path + ".tmp", path)
    return f"(SELECT * FROM read_parquet('{path}'))"


# ------------------------------------------------ near-dup transcript oracle

def duck_round(x, digits=6):
    """DuckDB's round(DOUBLE, n): std::round(x * 10^n) / 10^n, ties away
    from zero, evaluated on the exact binary product."""
    m = 10.0 ** digits
    v = decimal.Decimal(x * m).quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP)
    return float(v) / m


def _toks(text):
    return frozenset(text.split(" "))


def _pairs(left, right, tau, same):
    """(id_a, id_b, J) with J = |A∩B| / |A∪B| for every pair whose J can
    reach `tau` (size-ratio prefilter; exact J decides). `same`: left is
    right and pairs are id_a < id_b."""
    by_size = sorted(right, key=lambda r: len(r[1]))
    sizes = [len(r[1]) for r in by_size]
    for ia, ta in left:
        na = len(ta)
        lo = bisect.bisect_left(sizes, math.floor(na * tau))
        hi = bisect.bisect_right(sizes, math.ceil(na / tau))
        for ib, tb in by_size[lo:hi]:
            if same and not ia < ib:
                continue
            inter = len(ta & tb)
            yield ia, ib, inter / (na + len(tb) - inter)


def neardup_expected(docs):
    """Expected rows of the batch_neardup keys, transcribed from their
    oracle SQL. docs: [(doc_id, text)]."""
    d = [(i, _toks(t)) for i, t in docs]
    lsh = [(a, b, duck_round(j)) for a, b, j in _pairs(d, d, 0.89, True)
           if duck_round(j) >= 0.9]
    delta_docs = [(i + 100000, t) for i, t in d if i % 10 == 0] + [
        (i + 200000, _toks(f"zzz unique synthetic content {i + 200000}"))
        for i, _ in d if i % 10 == 3]
    delta = [(a, b, duck_round(j)) for a, b, j in _pairs(delta_docs, d, 0.89, False)
             if duck_round(j) >= 0.9]
    # Components: every doc on a >= 0.9 edge, labelled with the least id
    # reachable from it.
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, _ in lsh:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    components = sorted((x, find(x)) for x in parent)
    # Triangles of the unrounded J >= 0.97 graph, counted per corner.
    adj = {}
    for a, b, j in _pairs(d, d, 0.96, True):
        if j >= 0.97:
            adj.setdefault(a, set()).add(b)
    corners = {}
    for a, nbrs in adj.items():
        for b in nbrs:
            for c in adj.get(b, ()):
                if c in nbrs:
                    for x in (a, b, c):
                        corners[x] = corners.get(x, 0) + 1
    triangles = sorted(corners.items())
    return {
        "q_neardup_lsh": lsh,
        "q_neardup_lsh_salted": lsh,
        "q_neardup_delta": delta,
        "q_neardup_components": components,
        "q_graph_triangles": triangles,
    }


NEARDUP_COLUMNS = {
    "q_neardup_lsh": ("doc_a", "doc_b", "jaccard"),
    "q_neardup_lsh_salted": ("doc_a", "doc_b", "jaccard"),
    "q_neardup_delta": ("doc_a", "doc_b", "jaccard"),
    "q_neardup_components": ("doc_id", "component"),
    "q_graph_triangles": ("doc_id", "n_triangles"),
}


def register_rows(con, name, columns, types, rows):
    """Load rows into a DuckDB table typed like the oracle; returns it as
    a relation."""
    import pyarrow as pa
    tmap = dict(types)
    data = list(zip(*rows)) if rows else [[] for _ in columns]
    con.register(f"{name}_arrow", pa.table({c: list(v) for c, v in zip(columns, data)})
                 if rows else pa.table({c: pa.array([], pa.int64()) for c in columns}))
    cols = ", ".join(f'CAST("{c}" AS {tmap[c]}) AS "{c}"' for c in columns)
    con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT {cols} FROM {name}_arrow")
    con.unregister(f"{name}_arrow")
    return f"(SELECT * FROM {name})"


SUBSAMPLE_DOCS = 80  # DuckDB's pair join costs ~60 us a pair


def subsample(docs, seed):
    """Seeded sub-corpus for the DuckDB cross-check: mostly documents
    that share a text prefix with another (the planted clusters), so the
    sample holds real near-dup pairs, topped up with random ones."""
    rng = random.Random(f"{seed}:subsample")
    by_head = {}
    for i, t in docs:
        by_head.setdefault(" ".join(t.split(" ")[:3]), []).append((i, t))
    clustered = [g for g in by_head.values() if len(g) > 1]
    rng.shuffle(clustered)
    pick = []
    for g in clustered:
        if len(pick) >= SUBSAMPLE_DOCS // 2:
            break
        pick.extend(g[:12])
    rest = [x for x in docs if x not in pick]
    pick.extend(rng.sample(rest, min(len(rest), SUBSAMPLE_DOCS - len(pick))))
    return sorted(pick)
