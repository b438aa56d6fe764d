"""Seeded input generator for the benchmark.

Writes a Sentiment140-shaped ``documents`` table (doc_id, text, lang,
source, n_chars) as one parquet file.  The engine derives the label as
``doc_id % 2``, so sentiment words are drawn from the doc's own class
with probability ``SENTIMENT_PURITY``; every other word comes from a
Zipf vocabulary.  Tweets carry URLs, @mentions, #tags, ``&`` entities,
digits, punctuation and capitals so that every regex of the cleaning
chain has work to do.  A seeded fraction of docs are edited copies of
earlier docs (near-duplicates), which is what the dedup layer's work
scales with.

With ``n_orders`` it also writes a small TPC-H-shaped star schema
(region, nation, customer, orders, lineitem) for the relational
queries.  The same arguments always give byte-identical files.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 10_000
N_SENTIMENT = 300          # per class
SENTIMENT_PURITY = 0.8     # share of a doc's sentiment words from its own class
ZIPF_S = 1.07
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.6, 0.1, 0.1, 0.1, 0.1)
N_SOURCES = 20

_CONSONANTS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiouy")


def _word_pool(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct lowercase letter-only words of 2-4 syllables."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS)
                    for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _decorate(rng: random.Random, toks: list[str]) -> str:
    """Turn clean tokens into a noisy tweet; every decoration is something
    the cleaning chain strips or normalizes."""
    toks = list(toks)
    n = len(toks)
    r = [rng.random() for _ in range(9)]
    if r[0] < 0.5:
        toks[0] = toks[0].capitalize()
    if r[1] < 0.1:
        i = rng.randrange(n)
        toks[i] = toks[i].upper()
    if r[2] < 0.2:
        i = rng.randrange(n)
        toks[i] = toks[i] + rng.choice(["!", "!!", "?", "...", "'s", ",", "."])
    if r[3] < 0.3:
        toks.insert(rng.randrange(n + 1), f"@user{rng.randrange(5000)}")
    if r[4] < 0.2:
        toks.insert(rng.randrange(n + 1), "#" + toks[rng.randrange(n)])
    if r[5] < 0.1:
        toks.insert(rng.randrange(n + 1), rng.choice(["&amp;", "&lt;3", "&quot;", "&"]))
    if r[6] < 0.2:
        toks.insert(rng.randrange(n + 1), str(rng.randint(1, 2999)))
    if r[7] < 0.15:
        host = rng.choice(["http://t.co/", "https://bit.ly/", "www.site", "http://www.blog"])
        url = f"{host}{rng.randrange(10**6):x}" if host.endswith("/") else f"{host}.com/p{rng.randrange(999)}"
        toks.insert(rng.randrange(n + 1), url)
    if r[8] < 0.05:
        toks.append(":-)" if rng.random() < 0.5 else ":(")
    return " ".join(toks)


def _edit(rng: random.Random, toks: list[str], vocab: list[str]) -> list[str]:
    """1-2 token substitutions, insertions or deletions."""
    toks = list(toks)
    for _ in range(rng.randint(1, 2)):
        op = rng.randrange(3)
        i = rng.randrange(len(toks))
        if op == 0:
            toks[i] = rng.choice(vocab)
        elif op == 1:
            toks.insert(i, rng.choice(vocab))
        elif len(toks) > 4:
            del toks[i]
    return toks


def documents_table(seed: int, n_docs: int, dup_frac: float = 0.0) -> tuple[pa.Table, dict]:
    """Build the documents table and a record of its realised properties."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    pool = _word_pool(rng, VOCAB_SIZE + 2 * N_SENTIMENT)
    # frequent words are the short ones, as in natural language; it also
    # keeps the corpus size from following the lengths a seed happens to
    # give its few most frequent words
    vocab = sorted(pool[:VOCAB_SIZE], key=len)
    sentiment = (pool[VOCAB_SIZE:VOCAB_SIZE + N_SENTIMENT], pool[VOCAB_SIZE + N_SENTIMENT:])
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    zipf_p = ranks ** -ZIPF_S
    zipf_p /= zipf_p.sum()

    lens = nrng.integers(6, 29, size=n_docs)
    is_dup = nrng.random(n_docs) < dup_frac
    is_dup[0] = False
    words = nrng.choice(VOCAB_SIZE, size=int(lens.sum()), p=zipf_p)
    texts: list[str] = []
    off = 0
    for doc_id in range(n_docs):
        n = int(lens[doc_id])
        if is_dup[doc_id]:
            # a retweet-like copy: the source's final text, lightly edited
            texts.append(" ".join(_edit(rng, texts[rng.randrange(doc_id)].split(" "), vocab)))
        else:
            toks = [vocab[w] for w in words[off:off + n]]
            label = doc_id % 2
            for _ in range(rng.randint(1, 3)):
                cls = label if rng.random() < SENTIMENT_PURITY else 1 - label
                toks.insert(rng.randrange(len(toks) + 1), sentiment[cls][rng.randrange(N_SENTIMENT)])
            texts.append(_decorate(rng, toks))
        off += n
    langs = nrng.choice(len(LANGS), size=n_docs, p=LANG_P)
    sources = nrng.integers(N_SOURCES, size=n_docs)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i}" for i in sources], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    record = {
        "docs": n_docs,
        "text_bytes": int(sum(len(t.encode()) for t in texts)),
        "distinct_tokens": len({t for text in texts for t in text.lower().split()}),
        "dup_frac": round(float(is_dup.mean()), 4),
    }
    return table, record


REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ORDER_DAYS = (np.datetime64("1992-01-01"), np.datetime64("1998-08-02"))
RETURN_CUTOFF = np.datetime64("1995-06-17")


def star_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """TPC-H-shaped region, nation, customer, orders and lineitem tables
    with the columns the relational queries read.  Prices have two
    decimals and discounts and taxes are whole percents, as in TPC-H."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(n_orders // 10, 1)
    n_nations = 25
    region = pa.table({
        "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(n_nations, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(n_nations)], pa.string()),
        "n_regionkey": pa.array(np.arange(n_nations, dtype=np.int32) % len(REGIONS)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(n_nations, size=n_cust).astype(np.int32)),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, size=n_cust) / 100.0),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(len(SEGMENTS), size=n_cust)], pa.string()),
    })

    span = int((ORDER_DAYS[1] - ORDER_DAYS[0]).astype(int))
    odate = ORDER_DAYS[0] + rng.integers(span, size=n_orders).astype("timedelta64[D]")
    lines = rng.integers(1, 8, size=n_orders)
    n_lines = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    l_number = (np.arange(n_lines) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n_lines).astype(np.float64)
    price = np.round(qty * rng.integers(90_000, 210_000, size=n_lines) / 100.0, 2)
    ship = odate[l_order] + rng.integers(1, 122, size=n_lines).astype("timedelta64[D]")
    shipped = ship <= RETURN_CUTOFF
    flag = np.where(shipped, np.where(rng.random(n_lines) < 0.5, "R", "A"), "N")
    total = np.round(np.bincount(l_order, weights=price, minlength=n_orders), 2)
    status = np.array(["O", "F", "P"])[rng.integers(3, size=n_orders)]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(n_cust, size=n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(status.tolist(), pa.string()),
        "o_totalprice": pa.array(total),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(len(PRIORITIES), size=n_orders)], pa.string()),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(20_000, size=n_lines).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1_000, size=n_lines).astype(np.int64)),
        "l_linenumber": pa.array(l_number),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, size=n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_lines) / 100.0),
        "l_returnflag": pa.array(flag.tolist(), pa.string()),
        "l_linestatus": pa.array(np.where(shipped, "F", "O").tolist(), pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem}


def write_inputs(sf_dir: str, seed: int, n_docs: int, dup_frac: float = 0.0,
                 n_orders: int = 0) -> dict:
    """Write ``<sf_dir>/documents.parquet`` (and, with ``n_orders``, the
    star schema); returns the input record."""
    os.makedirs(sf_dir, exist_ok=True)
    table, record = documents_table(seed, n_docs, dup_frac)
    tables = {"documents": table}
    if n_orders:
        tables.update(star_tables(seed, n_orders))
        record["orders"] = n_orders
        record["lineitems"] = tables["lineitem"].num_rows
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    record["file_bytes"] = sum(
        os.path.getsize(os.path.join(sf_dir, f"{name}.parquet")) for name in tables
    )
    return record
