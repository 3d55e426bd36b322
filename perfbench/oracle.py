"""DuckDB oracle check of the cold pass of `batch_iterative`.

Each query's output (parquet written by the JVM) is compared with its
SparkEntry oracle SQL run by DuckDB over the same tables, the way
scripts/check.py compares them: columns by name, rows sorted, equal dtypes,
equal values; the canonical hash below digests exactly that normal form.

Two oracle parts are replayed outside DuckDB because DuckDB prices them far
beyond a run's time budget at this scale; each replay computes the same
relation as the SQL it replaces:
- `reach`/`cl` (recursive reachability; cluster = min doc_id of the
  component) becomes a union-find over the oracle's own `edges` CTE.
- m5's `hist` (per-byte FNV-1a 4-gram histogram over 64 bins) becomes the
  same arithmetic in numpy.
a4 uses check.py's linear-fold replay of its recursive CUSUM CTE.
"""
import hashlib
import os
import re
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd


# ------------------------------------------------------------ CTE surgery

_CTE = re.compile(r"\s*,?\s*([A-Za-z_]\w*(?:\s*\([^)]*\))?)\s+AS\s*\(", re.I)


def split_ctes(sql):
    """`WITH [RECURSIVE] a AS (...), b(x) AS (...) SELECT ...` ->
    (recursive, [(head, body)], final_select). `head` is the name with
    its optional column list; bodies exclude the outer parentheses."""
    s = sql.strip()
    m = re.match(r"WITH\s+(RECURSIVE\s+)?", s, re.I)
    recursive, i, ctes = bool(m.group(1)), m.end(), []
    while (m := _CTE.match(s, i)):
        k, depth, quote = m.end(), 1, None
        while depth:
            ch = s[k]
            if quote:
                quote = None if ch == quote else quote
            elif ch in "'\"":
                quote = ch
            else:
                depth += (ch == "(") - (ch == ")")
            k += 1
        ctes.append((m.group(1), s[m.end():k - 1]))
        i = k
    return recursive, ctes, s[i:].strip()


def join_ctes(recursive, ctes, final):
    body = ",\n".join(f"{h} AS ({b})" for h, b in ctes)
    return f"WITH {'RECURSIVE ' if recursive else ''}{body}\n{final}"


def name_of(head):
    return head.split("(")[0].strip()


def components(edges):
    """Union-find over (u, v) pairs; cluster = min vertex id of the component."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        a, b = find(u), find(v)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return pd.DataFrame({"doc_id": list(parent), "cluster": [find(x) for x in parent]},
                        dtype="int64")


def percep_hist(con):
    """m5's `hist` CTE: per document, the share of its 4-byte windows whose
    FNV-1a hash (offset 1469598103934665603, prime 1099511628211) lands in
    each of 64 bins ((h >> 16) % 64); documents under 4 bytes bin bytes % 64."""
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    prime = np.uint64(1099511628211)
    ids, hs = [], []
    for doc_id, text in docs:
        b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        n = len(b)
        if n >= 4:
            h = np.full(n - 3, np.uint64(1469598103934665603))
            for j in range(4):
                h = (h ^ b[j:n - 3 + j]) * prime
            bins = (h >> np.uint64(16)) % np.uint64(64)
            nw = n - 3
        else:
            bins, nw = b % np.uint64(64), max(n, 1)
        ids.append(doc_id)
        hs.append(list(np.bincount(bins.astype(np.int64), minlength=64) / float(nw)))
    return pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"), "h": hs})


def replay(con, sql, tag):
    rec, ctes, final = split_ctes(sql)
    names = [name_of(h) for h, _ in ctes]
    if "hist" in names:
        con.register(f"hist_{tag}", percep_hist(con))
        ctes = [(h, f"SELECT doc_id, h FROM hist_{tag}") if name_of(h) == "hist" else (h, b)
                for h, b in ctes if name_of(h) not in ("b", "by", "w")]
        names = [name_of(h) for h, _ in ctes]
    if "reach" in names and "cl" in names:
        upto = ctes[:names.index("edges") + 1]
        edges = con.execute(join_ctes(rec, upto, "SELECT u, v FROM edges")).fetchall()
        con.register(f"cl_{tag}", components(edges))
        ctes = [(h, f"SELECT doc_id, cluster FROM cl_{tag}") if name_of(h) == "cl" else (h, b)
                for h, b in ctes if name_of(h) != "reach"]
    return con.execute(join_ctes(rec, ctes, final)).df()


def a4_fold(con):
    """check.py's a4 replay: baseline stats in DuckDB (decimal-exact sums),
    the reset-on-alarm CUSUM as a plain fold over each key's events."""
    base = con.execute("""
      WITH st AS (SELECT event_type AS key, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s1,
        CAST(CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS s2
       FROM events GROUP BY event_type),
      sx AS (SELECT key, s1 / n AS mean, sqrt((s2 - s1 * s1 / n) / n) AS sd FROM st)
      SELECT e.event_id, sx.key, e.value, sx.mean, sx.sd
      FROM events e JOIN sx ON e.event_type = sx.key
      ORDER BY sx.key, epoch(date_trunc('second', e.ts)), e.event_id
    """).fetchall()
    rows, cur, pos, neg = [], None, 0.0, 0.0
    for event_id, key, value, mean, sd in base:
        if key != cur:
            cur, pos, neg = key, 0.0, 0.0
        if sd > 0 and pos > 5.0 * sd:
            pos = 0.0
        if sd > 0 and neg < -(5.0 * sd):
            neg = 0.0
        pos = max(0.0, pos + (value - mean - 0.5 * sd))
        neg = min(0.0, neg + (value - mean + 0.5 * sd))
        if sd > 0 and pos > 5.0 * sd:
            rows.append((event_id, key, value, "up", round(pos / sd * 1000000) / 1000000))
        if sd > 0 and neg < -(5.0 * sd):
            rows.append((event_id, key, value, "down", round(-neg / sd * 1000000) / 1000000))
    return pd.DataFrame(rows, columns=["event_id", "key", "value", "side", "stat"]).astype(
        {"event_id": "int64", "key": "object", "value": "float64", "side": "object",
         "stat": "float64"})


# ------------------------------------------------------------ comparison

def canonical(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def canonical_hash(df):
    return hashlib.sha256(
        pd.util.hash_pandas_object(canonical(df), index=False).values.tobytes()).hexdigest()


def compare(got, exp):
    """None when equal, else the first difference, by check.py's rules."""
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns {gc} vs {ec}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    bad = [f"{c}: dtype {got[c].dtype} vs {exp[c].dtype}" for c in gc
           if str(got[c].dtype) != str(exp[c].dtype)]
    if bad:
        return "; ".join(bad)
    hg, he = canonical_hash(got), canonical_hash(exp)
    return None if hg == he else f"hash {hg[:12]} vs {he[:12]}"


def check(data_dir, out_dir, oracle_sql):
    """[(query, error or None)] for every query with an oracle; the
    queries are checked concurrently, each on its own DuckDB cursor."""
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}/*.parquet')")

    def one(item):
        name, sql = item
        cur = con.cursor()
        try:
            got = pd.read_parquet(os.path.join(out_dir, name))
            exp = a4_fold(cur) if name == "a4_cusum_drift" else replay(cur, sql, name)
            return name, compare(got, exp)
        except Exception as e:  # a failed oracle is a failed check, not a crash
            return name, f"oracle error: {e}"
        finally:
            cur.close()

    with ThreadPoolExecutor(max_workers=len(oracle_sql) or 1) as pool:
        results = list(pool.map(one, sorted(oracle_sql.items())))
    con.close()
    return results
