"""Expected outputs, computed once per seed without Spark, and the checks
that compare the program's outputs against them.

- reviews_chisq: ``tests/reference_impl.pipeline`` (plain-Python reference
  semantics) gives the per-category top-75 and the category counts; the
  counts are also checked against the generator's own valid-line counts.
- query_mix: the registry's DuckDB oracle SQL
  (``registry.all_oracles()``) over the same parquet files, normalized with
  ``tests/oracle_utils`` exactly as the repository's correctness gate does.
  The one exception is ``dedup_minhash_groups``: its generated oracle SQL
  costs DuckDB ~15 s of planning per run whatever the corpus size, so
  ``minhash_groups`` restates it in NumPy (same xxhash64 family, banding and
  3-round label propagation); perfbench/test_inputs.py pins the two equal.
"""

from __future__ import annotations

import ast
import math
import os
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))

import oracle_utils  # noqa: E402
import reference_impl  # noqa: E402

CHI2_REL_TOL = 1e-12
TOP_K = 75


# ------------------------------------------------------------ reviews_chisq


def reviews_expected(manifest: dict) -> dict:
    with open(manifest["reviews_path"], encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    with open(manifest["stopwords_path"], encoding="utf-8") as fh:
        stop = {w.strip() for w in fh if w.strip()}
    topk, total, cat_counts = reference_impl.pipeline(lines, stop, TOP_K)
    if cat_counts != manifest["category_counts"] or total != manifest["valid_lines"]:
        raise RuntimeError("reference counts disagree with the generator's valid lines")
    vocab = sorted({w for words in topk.values() for w in words})
    return {"topk": topk, "vocab": vocab, "total": total, "counts": cat_counts}


def check_reviews(lines: list[str], counters_line: str, exp: dict) -> str | None:
    """None when ``run_pipeline``'s output lines and counters match the
    expected result, else a one-line reason."""
    from dic_a1_spark.sources.sinks import parse_counters_line

    total, per_cat = parse_counters_line(counters_line)
    if total != exp["total"] or per_cat != exp["counts"]:
        return f"counters differ: total {total} vs {exp['total']}"
    if len(lines) != len(exp["topk"]) + 1:
        return f"{len(lines)} output lines, expected {len(exp['topk']) + 1}"
    seen = set()
    for line in lines[:-1]:
        cat, _, body = line.partition("\t")
        got, want = ast.literal_eval(body), exp["topk"].get(cat)
        if want is None or set(got) != set(want):
            return f"{cat}: top-{TOP_K} word set differs"
        for w, v in got.items():
            if not math.isclose(v, want[w], rel_tol=CHI2_REL_TOL, abs_tol=0.0):
                return f"{cat}/{w}: chi2 {v!r} vs {want[w]!r}"
        seen.add(cat)
    if seen != set(exp["topk"]):
        return "category set differs"
    if ast.literal_eval(lines[-1]) != exp["vocab"]:
        return "vocabulary line differs"
    return None


# ------------------------------------------------- registry oracle queries


def _oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    rel = con.sql(sql)
    return {"cols": sorted(rel.columns), "rows": oracle_utils._rowset(rel.columns, rel.fetchall())}


def oracle_results(sf_dir: str, names: list[str], duckdb_dedup: bool = False) -> dict:
    """{query name: {"cols", "rows"}} from the registry's DuckDB oracles
    (``dedup_minhash_groups`` from ``minhash_groups`` unless
    ``duckdb_dedup``)."""
    from dic_a1_spark.registry import all_oracles

    oracles = all_oracles()
    con = oracle_utils.duck_con(sf_dir)
    out = {}
    try:
        for n in names:
            if n == "dedup_minhash_groups" and not duckdb_dedup:
                rows = minhash_groups(os.path.join(sf_dir, "documents.parquet"))
                cols = ["doc_id", "group_id"]
                out[n] = {"cols": cols, "rows": oracle_utils._rowset(cols, rows)}
            else:
                out[n] = _oracle_rows(con, oracles[n])
    finally:
        con.close()
    return out


# ---------------------------------------------------- MinHash dedup groups

_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    11400714785074694791, 14029467366897019727, 1609587929392839161,
    9650029242287828579, 2870177450012600261,
)
HASHES, BANDS, ROWS, ROUNDS, WIDTH = 16, 4, 4, 3, 3
_TOKEN_TABLE = {ord(ch): " " for ch in reference_impl.PUNCT}


def _xxh64_longs(v: np.ndarray, seed: int) -> np.ndarray:
    """XXH64 of each 8-byte little-endian value of ``v`` (uint64) with one
    seed — Spark's hashLong, vectorized."""
    u = np.uint64
    rotl = lambda x, r: (x << u(r)) | (x >> u(64 - r))  # noqa: E731
    with np.errstate(over="ignore"):
        h = u((seed + _P5 + 8) & _M) ^ (rotl(v * u(_P2), 31) * u(_P1))
        h = rotl(h, 27) * u(_P1) + u(_P4)
        h ^= h >> u(33)
        h *= u(_P2)
        h ^= h >> u(29)
        h *= u(_P3)
        h ^= h >> u(32)
    return h


def _signed(u: int) -> int:
    return u - (1 << 64) if u >> 63 else u


def minhash_groups(documents_path: str) -> list[tuple[int, int]]:
    """(doc_id, group_id) of ``dedup_minhash_groups``: word 3-gram shingles
    hashed with xxhash64 (seed 42), 16 min-hashes xxhash64(i, h), 4 bands of
    4 hashed to a bucket with xxhash64(band, ...), then min-label propagation
    over the doc-bucket graph for at most 3 rounds, stopping early when a
    round other than the last changes no label."""
    from dic_a1_spark.functions.xxh64_sql import py_xxh64_bytes, py_xxh64_int, py_xxh64_long

    table = pq.read_table(documents_path, columns=["doc_id", "text"])
    ids = table.column("doc_id").to_numpy()
    seeds = [py_xxh64_int(i, 42) for i in range(HASHES)]
    shingle_hash: dict[str, int] = {}
    edge_doc, edge_bucket = [], []
    for doc, text in zip(ids.tolist(), table.column("text").to_pylist()):
        toks = (text or "").lower().translate(_TOKEN_TABLE).split()
        if len(toks) < WIDTH:
            continue
        hs = []
        for sh in {" ".join(toks[i : i + WIDTH]) for i in range(len(toks) - WIDTH + 1)}:
            h = shingle_hash.get(sh)
            if h is None:
                h = shingle_hash[sh] = py_xxh64_bytes(sh.encode("utf-8"), 42)
            hs.append(h)
        hv = np.array(hs, dtype=np.uint64)
        sig = [_signed(int(_xxh64_longs(hv, s).view(np.int64).min())) for s in seeds]
        for b in range(BANDS):
            h = py_xxh64_int(b, 42)
            for r in range(ROWS):
                h = py_xxh64_long(sig[b * ROWS + r], h)
            edge_doc.append(doc)
            edge_bucket.append(h)
    pos = {d: i for i, d in enumerate(ids.tolist())}
    e_doc = np.array([pos[d] for d in edge_doc], dtype=np.int64)
    _, e_bkt = np.unique(np.array(edge_bucket, dtype=np.uint64), return_inverse=True)
    labels = ids.astype(np.int64)
    big = np.iinfo(np.int64).max
    for rnd in range(ROUNDS):
        bucket_min = np.full(e_bkt.max() + 1 if len(e_bkt) else 0, big, dtype=np.int64)
        np.minimum.at(bucket_min, e_bkt, labels[e_doc])
        prop = np.full(len(ids), big, dtype=np.int64)
        np.minimum.at(prop, e_doc, bucket_min[e_bkt])
        new = np.minimum(labels, prop)
        changed = int((new != labels).sum())
        labels = new
        if changed == 0 and rnd < ROUNDS - 1:
            break
    return list(zip(ids.tolist(), labels.tolist()))


def check_rows(cols: list[str], rows: list, exp: dict) -> str | None:
    """None when (cols, rows) equal the oracle result exactly, order-
    insensitively (the tests/oracle_utils.compare rule)."""
    if sorted(cols) != exp["cols"]:
        return f"columns {sorted(cols)} vs {exp['cols']}"
    got = oracle_utils._rowset(cols, rows)
    want = [tuple(r) for r in exp["rows"]]
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    bad = sum(1 for a, b in zip(got, want) if a != b)
    return f"{bad} rows differ" if bad else None
