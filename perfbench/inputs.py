"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``seed``: the same seed writes
byte-identical files, a different seed different ones (perfbench/test_inputs.py).
Sizes are fixed constants so run time does not depend on the seed; the seed
only changes the content.

- ``write_reviews``: Amazon-2014-shaped review JSONL (22 real category names,
  Book ~28 %, Zipf vocabulary plus per-category signature words, mixed case,
  punctuation, digits, ``<``/``>`` tokens, repeated words, ~1 % corrupt lines)
  and a 596-line stopword side file with duplicate lines.
- ``write_tables``: the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` with the fixture schemas, at scale factor
  ``sf`` (lineitem = 6M x sf rows). ``documents`` carries planted
  near-duplicate clusters (fixed duplicate share, cluster size and edit
  rate) for the MinHash dedup query.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Real Amazon 2014 category names, truncations included (FIXTURES.md §1).
CATEGORIES = (
    "Apps_for_Android", "Automotive", "Baby", "Beauty", "Book",
    "CDs_and_Vinyl", "Cell_Phones_and_Accessorie",
    "Clothing_Shoes_and_Jewelry", "Digital_Music", "Electronic",
    "Grocery_and_Gourmet_Food", "Health_and_Personal_Care",
    "Home_and_Kitche", "Kindle_Store", "Movies_and_TV", "Musical_Instrument",
    "Office_Product", "Patio_Lawn_and_Garde", "Pet_Supplie",
    "Sports_and_Outdoor", "Tools_and_Home_Improvement", "Toys_and_Game",
)
BOOK_SHARE = 0.28

REVIEWS_N = 20_000          # lines in reviews.jsonl, corrupt ones included
CORRUPT_SHARE = 0.01
STOPWORD_LINES = 596
STOPWORD_DUPLICATES = 10

DOCS_N = 2_000              # rows in documents.parquet
DUP_SHARE = 0.30            # share of documents inside a planted cluster
CLUSTER_SIZE = 4            # one original + three near-copies
EDIT_RATE = 0.05            # per-word substitution rate of a near-copy

QUERY_SF = 0.01             # scale factor of the query_mix tables

_ENGLISH = (
    "the and i a to it is of this for in that was my with not but you on "
    "have are they be as so one very just all if at or would like great "
    "good can had me from an out well use when them really there get "
    "we its up more what than will about no which time much also only "
    "some other after even little do been product were has because how "
    "work too could first any these did their who back into then does "
    "made over dont ive im still make best love easy"
).split()

_SYLLABLES = (
    "ka ri to ne sa mi lo ve pa du zo fi ra be go hu ta le mo ni "
    "ar en il on us ex or an et ul qui sta pre tri bro cla fen gor"
).split()

_ACCENTED = ("café", "naïve", "über", "piñata", "jalapeño", "crème", "résumé")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _pseudo_words(rng: np.random.Generator, n: int, exclude: set[str]) -> list[str]:
    """``n`` distinct lowercase pseudo-words built from syllables."""
    out: list[str] = []
    seen = set(exclude)
    syl = np.array(_SYLLABLES, dtype=object)
    while len(out) < n:
        k = rng.integers(2, 5, size=4 * n)
        parts = rng.integers(0, len(syl), size=(4 * n, 4))
        for i in range(4 * n):
            w = "".join(syl[parts[i, : k[i]]])
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


# ---------------------------------------------------------------- reviews


def _category_weights() -> np.ndarray:
    rest = np.array([1.0 / (i + 2) ** 0.6 for i in range(len(CATEGORIES) - 1)])
    rest = rest / rest.sum() * (1.0 - BOOK_SHARE)
    w = np.insert(rest, CATEGORIES.index("Book"), BOOK_SHARE)
    return w / w.sum()


def write_reviews(out_dir: str, seed: int, n: int = REVIEWS_N) -> dict:
    """Write ``reviews.jsonl`` and ``stopwords.txt``; return the manifest
    (valid-line counts per category, file sizes)."""
    rng = _rng(seed, 1)
    vocab = _ENGLISH + list(_ACCENTED) + _pseudo_words(rng, 20_000, set(_ENGLISH))
    vocab_arr = np.array(vocab, dtype=object)
    p_vocab = _zipf_p(len(vocab), 1.05)
    sig_words = np.array(
        _pseudo_words(rng, 60 * len(CATEGORIES), set(vocab)), dtype=object
    ).reshape(len(CATEGORIES), 60)
    p_sig = _zipf_p(60, 0.8)

    cats = rng.choice(len(CATEGORIES), size=n, p=_category_weights())
    lens = np.clip(rng.lognormal(np.log(45), 0.6, size=n), 3, 400).astype(np.int64)
    total = int(lens.sum())
    offsets = np.concatenate([[0], np.cumsum(lens)])
    tok = vocab_arr[rng.choice(len(vocab), size=total, p=p_vocab)]
    tok_cat = np.repeat(cats, lens)
    sig_mask = rng.random(total) < 0.12
    tok[sig_mask] = sig_words[
        tok_cat[sig_mask], rng.choice(60, size=int(sig_mask.sum()), p=p_sig)
    ]
    rep = np.flatnonzero(rng.random(total) < 0.05)
    rep = rep[rep > 0]
    tok[rep] = tok[rep - 1]  # repeated words within one review
    u = rng.random(total)
    cap = u < 0.08
    tok[cap] = [w.capitalize() for w in tok[cap]]
    upper = (u >= 0.08) & (u < 0.09)
    tok[upper] = [w.upper() for w in tok[upper]]
    punct = np.flatnonzero(rng.random(total) < 0.07)
    tok[punct] = tok[punct] + rng.choice(
        np.array([",", ".", "!", "?", ";", ":", "...", ")", "!!"], dtype=object),
        size=len(punct),
    )
    extra = np.flatnonzero(rng.random(total) < 0.015)
    tok[extra] = rng.choice(
        np.array(
            ["5", "10/10", "2013", "<3", ">", "<br>", "->", "€20", "§3",
             "(great)", "[sic]", "#1", "50%", "A+", "don't", "it's"],
            dtype=object,
        ),
        size=len(extra),
    )

    corrupt = rng.random(n) < CORRUPT_SHARE
    helpful = rng.integers(0, 20, size=(n, 2))
    overall = rng.integers(1, 6, size=n)
    times = rng.integers(1_000_000_000, 1_400_000_000, size=n)
    cut = rng.random(n)
    kind = rng.integers(0, 3, size=n)

    counts = {c: 0 for c in CATEGORIES}
    lines = []
    for i in range(n):
        cat = CATEGORIES[cats[i]]
        text = " ".join(tok[offsets[i] : offsets[i + 1]])
        rec = {
            "reviewerID": f"A{(seed * 7919 + i) % 10**12:012d}",
            "asin": f"B{i:09d}",
            "reviewerName": f"reviewer {i % 977}",
            "helpful": [int(helpful[i, 0]), int(helpful[i, 0] + helpful[i, 1])],
            "reviewText": text,
            "overall": float(overall[i]),
            "summary": " ".join(tok[offsets[i] : offsets[i] + 3]),
            "unixReviewTime": int(times[i]),
            "reviewTime": "01 2, 2014",
            "category": cat,
        }
        line = json.dumps(rec, ensure_ascii=False)
        if corrupt[i]:
            if kind[i] == 0:  # truncated mid-record
                line = line[: max(1, int(len(line) * cut[i]) - 1)]
            elif kind[i] == 1:  # missing closing brace
                line = line[:-1]
            else:  # unquoted value
                line = '{"category": "' + cat + '", "reviewText": broken'
        else:
            counts[cat] += 1
        lines.append(line)
    reviews_path = os.path.join(out_dir, "reviews.jsonl")
    with open(reviews_path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    prefix_path = os.path.join(out_dir, "prefix.jsonl")  # the first 5 %, for warm-up
    with open(prefix_path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines[: n // 20]) + "\n")

    # Stopwords: the English head of the vocabulary plus mid-frequency
    # pseudo-words, some lines duplicated, shuffled.
    distinct = STOPWORD_LINES - STOPWORD_DUPLICATES
    mid = [w for w in vocab[len(_ENGLISH) : 4000] if w not in _ENGLISH]
    picks = list(rng.choice(np.array(mid, dtype=object), distinct - len(_ENGLISH), replace=False))
    words = _ENGLISH + picks
    words += list(rng.choice(np.array(words, dtype=object), STOPWORD_DUPLICATES, replace=False))
    words = list(rng.permutation(np.array(words, dtype=object)))
    stop_path = os.path.join(out_dir, "stopwords.txt")
    with open(stop_path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(words) + "\n")

    return {
        "reviews_path": reviews_path,
        "prefix_path": prefix_path,
        "stopwords_path": stop_path,
        "lines": n,
        "valid_lines": int(sum(counts.values())),
        "category_counts": counts,
        "input_bytes": os.path.getsize(reviews_path),
        "stopword_lines": len(words),
    }


# --------------------------------------------------------------- documents


def _documents_table(rng: np.random.Generator, n: int, dup_share: float) -> pa.Table:
    # A small vocabulary, like the fixture's: unrelated documents still share
    # few word 3-grams, and the corpus has few distinct shingles.
    vocab = np.array(_pseudo_words(rng, 48, set()), dtype=object)
    p = _zipf_p(len(vocab), 0.3)
    n_clusters = int(round(n * dup_share / CLUSTER_SIZE))
    n_unique = n - n_clusters * (CLUSTER_SIZE - 1)
    lens = rng.integers(30, 120, size=n_unique)
    words = [vocab[rng.choice(len(vocab), size=k, p=p)] for k in lens]
    texts = [" ".join(w) for w in words]
    for c in range(n_clusters):  # originals are the first n_clusters docs
        base = words[c]
        for _ in range(CLUSTER_SIZE - 1):
            copy = base.copy()
            edit = rng.random(len(copy)) < EDIT_RATE
            copy[edit] = vocab[rng.choice(len(vocab), size=int(edit.sum()), p=p)]
            texts.append(" ".join(copy))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    langs = np.array(["en", "de", "fr", "es", "zh"], dtype=object)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs[rng.choice(5, size=len(texts), p=[0.6, 0.1, 0.1, 0.1, 0.1])], pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=len(texts))], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


# ------------------------------------------------------------ star schema


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(np.int64)) + 1, size=n)
    return d.astype("datetime64[us]")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def write_tables(out_dir: str, seed: int, sf: float = QUERY_SF) -> dict:
    """Write every table of config.TABLES as ``<name>.parquet`` at scale
    ``sf``; return row counts and file sizes."""
    rng = _rng(seed, 3)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    pick = lambda vals, n: np.array(vals, dtype=object)[rng.integers(0, len(vals), size=n)]  # noqa: E731
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust, dtype=np.int32)),
            "c_acctbal": _money(rng, 0, 10_000, n_cust),
            "c_mktsegment": pa.array(pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust), pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp, dtype=np.int32)),
            "s_acctbal": _money(rng, 0, 10_000, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                pick(["large", "hot", "blue", "red", "small", "green", "shiny"], n_part)
                + " " + pick(["ring", "bolt", "nut", "gear", "pipe", "valve"], n_part),
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)], pa.string()),
            "p_type": pa.array(pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, size=n_part, dtype=np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(pick(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": _money(rng, 1_000, 500_000, n_ord),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), pa.timestamp("us")),
            "o_orderpriority": pa.array(pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_li, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 100_000, n_li),
            "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
            "l_returnflag": pa.array(pick(["A", "N", "R"], n_li), pa.string()),
            "l_linestatus": pa.array(pick(["F", "O"], n_li), pa.string()),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li), pa.timestamp("us")),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + np.sort(rng.integers(0, 30 * 86_400 * 10**6, size=n_ev)).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, size=n_ev, dtype=np.int64)),
            "event_type": pa.array(pick(["view", "click", "purchase", "signup", "error"], n_ev), pa.string()),
            "value": np.round(rng.exponential(30.0, size=n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)], pa.string()),
        }),
        "documents": _documents_table(rng, DOCS_N, DUP_SHARE),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(max(20, int(20_000 * sf)), dtype=np.int64)),
            "embedding": pa.array(
                list(rng.normal(0, 0.15, size=(max(20, int(20_000 * sf)), 64)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 10, size=max(20, int(20_000 * sf)), dtype=np.int32)),
        }),
    }
    rows, sizes = {}, {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        rows[name] = table.num_rows
        sizes[name] = os.path.getsize(path)
    return {"sf_dir": out_dir, "sf": sf, "rows": rows, "bytes": sizes}
