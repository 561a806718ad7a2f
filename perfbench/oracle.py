"""Checks the corpus workload's outputs. `dedup_exact` and `curate_corpus`
are compared with the program's DuckDB oracle SQL run over the same corpus.
The DuckDB replays of `dedup_minhash` and `dedup_groups` take minutes, so
those two are checked here in plain Python instead: every MinHash pair's
hashed-shingle counts and threshold are recomputed and every planted exact
copy must be paired; the duplicate groups are recomputed from the oracle's
definition (exact-dup edges plus capped banded word-shingle Jaccard edges,
then connected components).
"""
import re
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq

DUCKDB_CHECKED = ("dedup_exact", "curate_corpus")


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, Decimal):
        return repr(float(v))
    return str(v)


def _rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, sorted(tuple(_norm(col[i]) for col in data) for i in range(tbl.num_rows))


def _compare(name, got_tbl, want_tbl):
    got_cols, got = _rows(got_tbl)
    want_cols, want = _rows(want_tbl)
    if got_cols != want_cols:
        return (f"{name} matches its oracle", False, f"columns {got_cols} vs {want_cols}")
    if got != want:
        diff = next((a, b) for a, b in zip(got + [None], want + [None]) if a != b)
        return (f"{name} matches its oracle", False,
                f"{len(got)} vs {len(want)} rows; first difference {diff}")
    return (f"{name} matches its oracle", True, f"{len(got)} rows")


def _fnv32(s):
    h = 14695981039346656037
    for ch in s:
        h = ((h ^ ord(ch)) * 1099511628211) % 18446744073709551616
    return h % 4294967296


def _word_shingles(text):
    w = text.lower().split(" ")
    return [" ".join(w[i:i + 3]) for i in range(len(w) - 2)]


def check_minhash(docs, pairs):
    """docs: {doc_id: text}; pairs: rows (a, b, inter_n, union_n)."""
    hx = {d: {_fnv32(s) for s in _word_shingles(t)} for d, t in docs.items()}
    seen = set()
    for a, b, inter_n, union_n in pairs:
        inter = len(hx[a] & hx[b])
        union = len(hx[a]) + len(hx[b]) - inter
        if not (a < b and (inter, union) == (inter_n, union_n) and 10 * inter >= 7 * union):
            return False, f"pair ({a}, {b}, {inter_n}, {union_n}): recomputed ({inter}, {union})"
        seen.add((a, b))
    by_text = {}
    for d, t in docs.items():
        if hx[d]:
            by_text.setdefault(t.lower(), []).append(d)
    missing = [(x, y) for ids in by_text.values() for i, x in enumerate(sorted(ids))
               for y in sorted(ids)[i + 1:] if (x, y) not in seen]
    if missing:
        return False, f"{len(missing)} exact-copy pairs not reported, e.g. {missing[:3]}"
    return True, f"{len(seen)} pairs"


def expected_groups(docs):
    """docs: {doc_id: (text, lang, n_chars)} -> {doc_id: (comp, group_n)}."""
    keeper, rkeeper = {}, {}
    for d in sorted(docs):
        text = docs[d][0]
        keeper.setdefault(re.sub(r"\s+", " ", text.strip(" ").lower()), d)
        rkeeper.setdefault(text, d)
    edges = set()
    for d, (text, _, _) in docs.items():
        k = keeper[re.sub(r"\s+", " ", text.strip(" ").lower())]
        if k != d:
            edges.add((k, d))
    reps = {(rkeeper[t], lang, n) for t, lang, n in docs.values()}
    sh = {}
    buckets = {}
    for d, lang, n in reps:
        s = set(_word_shingles(docs[d][0]))
        if s:
            sh[d] = s
            for b in (n // 64, n // 64 + 1):
                buckets.setdefault((lang, b), []).append(d)
    for ids in buckets.values():
        ids = sorted(set(ids))
        cands = ([(x, y) for i, x in enumerate(ids) for y in ids[i + 1:]] if len(ids) <= 64
                 else [(ids[0], y) for y in ids[1:]])
        for x, y in cands:
            if 2 * len(sh[x] & sh[y]) >= len(sh[x] | sh[y]):
                edges.add((x, y))
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = {}
    for x in parent:
        members.setdefault(find(x), []).append(x)
    return {x: (min(ms), len(ms)) for ms in members.values() for x in ms}


def check(corpus_dir, out_dir, oracle_sql):
    """Returns a list of (name, ok, detail) gates, one per query."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{corpus_dir}/documents.parquet/*.parquet')")
    gates = [_compare(n, pq.read_table(f"{out_dir}/{n}"), con.execute(oracle_sql[n]).fetch_arrow_table())
             for n in DUCKDB_CHECKED]
    rows = con.execute("SELECT doc_id, text, lang, n_chars FROM documents").fetchall()
    con.close()

    pairs = pq.read_table(f"{out_dir}/dedup_minhash").select(["a", "b", "inter_n", "union_n"])
    ok, detail = check_minhash({d: t for d, t, _, _ in rows}, zip(*[c.to_pylist() for c in pairs.columns]))
    gates.append(("dedup_minhash pairs recomputed, exact copies all paired", ok, detail))

    want = expected_groups({d: (t, lang, n) for d, t, lang, n in rows})
    g = pq.read_table(f"{out_dir}/dedup_groups").to_pydict()
    got = {d: (c, n) for d, c, n in zip(g["doc_id"], g["comp"], g["group_n"])}
    bad = [d for d in set(got) | set(want) if got.get(d) != want.get(d)]
    gates.append(("dedup_groups equals its recomputed components", not bad,
                  f"{len(bad)} docs differ, e.g. {[(d, got.get(d), want.get(d)) for d in sorted(bad)[:3]]}"
                  if bad else f"{len(got)} docs in groups"))
    return gates
