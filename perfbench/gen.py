"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows, byte for byte, and sizes barely depend on the seed, so run
time varies little between seeds. Nothing here touches Spark; the
workloads write these tables to parquet and hand the engine only those
files.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [  # (name, regionkey) in TPC-H nation order
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "cart", "purchase", "signup"]
EPOCH0 = dt.datetime(1992, 1, 1)
ORDER_DAYS = 2400  # order dates span 1992-01-01 .. ~1998-07


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _ts(days: np.ndarray) -> pa.Array:
    us = (days.astype("int64") * 86_400_000_000
          + int((EPOCH0 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000)
    return pa.array(us, pa.timestamp("us"))


def tpch_tables(seed: int, customers: int = 1500) -> dict[str, pa.Table]:
    """A TPC-H-shaped star schema plus the ``events``, ``documents`` and
    ``embeddings`` side tables that ``datasets.tpch.tpch_graph`` loads.
    Sizes scale with ``customers`` in TPC-H proportions (1500 customers
    is sf0.01: 15k orders, ~60k lineitems)."""
    r = _rng(seed, 1)
    n_cust, n_supp, n_part = customers, customers // 15, customers * 4 // 3
    n_ord, n_users, n_events = customers * 10, customers // 3, customers * 20 // 3
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([rk for _, rk in NATIONS], pa.int32()),
    })
    ck = np.arange(1, n_cust + 1, dtype="int64")
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    })
    sk = np.arange(1, n_supp + 1, dtype="int64")
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(1, n_part + 1, dtype="int64")
    price = np.round(900 + (pk % 1000) + r.uniform(0, 100, n_part), 2)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"part {k}" for k in pk],
        "p_brand": [f"Brand#{a}{b}" for a, b in r.integers(1, 6, (n_part, 2))],
        "p_type": [f"TYPE {i}" for i in r.integers(0, 25, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })
    # two thirds of the customers place orders (TPC-H's rule), so the
    # NOT EXISTS template has answers
    ok = np.arange(1, n_ord + 1, dtype="int64")
    active = ck[ck % 3 != 0]
    odays = r.integers(0, ORDER_DAYS, n_ord)
    lines = r.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    n_li = len(l_ok)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    l_pk = r.integers(1, n_part + 1, n_li)
    qty = r.integers(1, 51, n_li).astype("float64")
    ext = np.round(qty * price[l_pk - 1], 2)
    disc = r.integers(0, 11, n_li) / 100.0
    ship = np.repeat(odays, lines) + r.integers(1, 122, n_li)
    status_li = np.where(ship > ORDER_DAYS - 200, "O", "F")
    t["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_pk.astype("int64"),
        "l_suppkey": r.integers(1, n_supp + 1, n_li).astype("int64"),
        "l_linenumber": pa.array(l_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": status_li.tolist(),
        "l_shipdate": _ts(ship),
    })
    # order status follows its lines: all shipped F, none O, mixed P
    n_open = np.add.reduceat((status_li == "O").astype(int),
                             np.concatenate([[0], np.cumsum(lines)[:-1]]))
    ostatus = np.where(n_open == 0, "F", np.where(n_open == lines, "O", "P"))
    totals = np.add.reduceat(ext * (1 - disc),
                             np.concatenate([[0], np.cumsum(lines)[:-1]]))
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": r.choice(active, n_ord),
        "o_orderstatus": ostatus.tolist(),
        "o_totalprice": np.round(totals, 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    })
    ev = np.arange(1, n_events + 1, dtype="int64")
    t["events"] = pa.table({
        "event_id": ev,
        "ts": pa.array(
            (EPOCH0 - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
            + r.integers(0, 365 * 86_400, n_events) * 1_000_000,
            pa.int64()).cast(pa.timestamp("us")),
        "user_id": r.integers(1, n_users + 1, n_events).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_events)],
        "value": np.round(r.uniform(0, 100, n_events), 2),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_events)],
    })
    n_docs = 50
    words = _vocab(r, 300)
    texts = [" ".join(r.choice(words, 40)) for _ in range(n_docs)]
    t["documents"] = pa.table({
        "doc_id": np.arange(1, n_docs + 1, dtype="int64"),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": ["gen"] * n_docs,
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })
    t["embeddings"] = pa.table({
        "vec_id": np.arange(1, n_docs + 1, dtype="int64"),
        "embedding": pa.array(r.standard_normal((n_docs, 8)).astype("float32").tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 4, n_docs), pa.int32()),
    })
    return t


def _vocab(r: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(r.choice(letters, int(k))) for k in r.integers(3, 9, n)]


def zipf_ranks(r: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    """``size`` draws of ranks 0..n-1 with P(rank k) ~ 1/(k+1)^s, so a
    few keys repeat often and the long tail is mostly distinct."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return r.choice(n, size=size, p=w / w.sum())


def planted_graph(seed: int, chains: int = 2, chain_len: int = 8,
                  communities: int = 3, community_size: int = 4) -> np.ndarray:
    """Undirected simple edge list (int64 pairs, lo < hi) of two joined
    parts. Long chains give many rounds over little data; planted
    cliques give few rounds and every triangle. Each chain's head is
    bridged to a clique and each clique to the next, so the graph is
    one connected piece.

    The seed picks the id values, not the shape or the id order: the
    node of fixed scrambled rank k gets the k-th of a seeded increasing
    sequence (a seeded offset plus seeded gaps). Operators that order
    ids (the min-label of connected components) run the same rounds for
    every seed, while hash-based ones (Luby priorities, sampled sources)
    see different ids. The gaps are irregular because evenly spaced ids
    can all hash past a sampling cut: with a seeded stride, 23 of 2000
    seeds left betweenness_sampled no source, and it raises."""
    r = _rng(seed, 2)
    n_chain = chains * chain_len
    pairs = []
    for c in range(chains):
        base = c * chain_len
        pairs += [(base + i, base + i + 1) for i in range(chain_len - 1)]
        pairs.append((base, n_chain + (c % communities) * community_size))
    for c in range(communities):
        base = n_chain + c * community_size
        iu, ju = np.triu_indices(community_size, 1)
        pairs += list(zip((base + iu).tolist(), (base + ju).tolist()))
        nxt = n_chain + ((c + 1) % communities) * community_size
        pairs.append((base + community_size - 1, nxt))
    n = n_chain + communities * community_size
    rank = np.random.default_rng(0).permutation(n)  # fixed, not seeded
    by_rank = int(r.integers(1, 10**9)) + np.cumsum(r.integers(1, 1000, n))
    e = by_rank[rank[np.array(pairs, dtype="int64")]]
    e = np.stack([e.min(axis=1), e.max(axis=1)], axis=1)
    return np.unique(e, axis=0)


STOP = ["the", "and", "of", "to", "that", "with", "have", "this"]


def html_corpus(seed: int, history: int = 300, epochs: int = 4,
                per_epoch: int = 200, words_per_doc: int = 150) -> dict:
    """Synthetic crawl with a planted duplicate structure.

    Each document belongs to a *family*: an original text and its
    variants. A variant is either an exact copy or a near copy that
    substitutes one word, so any two members of a family are within two
    word edits (3-shingle Jaccard >= ~0.9) and documents of different
    families share no shingle in practice. About a tenth of the epoch
    documents are too short for the Gopher word-count rule.

    Returns ``history`` (rows for the index built at setup) and
    ``epochs`` (one row list per epoch); a row is ``(doc_id, html,
    family, quality_ok, text)`` where ``text`` is the body the HTML
    extractor must recover. Ids increase across history and epochs.
    """
    r = _rng(seed, 3)
    vocab = _vocab(r, 4000)
    families: list[list[str]] = []

    def new_family(n_words: int) -> int:
        body = list(r.choice(vocab, n_words))
        for i, w in enumerate(STOP):  # Gopher wants stop words
            body[(i * 17) % n_words] = w
        families.append(body)
        return len(families) - 1

    def member(fam: int, near: bool) -> list[str]:
        body = list(families[fam])
        if near:
            body[int(r.integers(20, len(body)))] = str(r.choice(vocab))
        return body

    def render(doc_id: int, body: list[str]) -> tuple[str, str]:
        paras = [" ".join(body[i:i + 50]) for i in range(0, len(body), 50)]
        nav = "".join(f'<a href="/p{k}">link {k}</a> ' for k in range(6))
        html = (f"<html><head><title>doc {doc_id}</title>"
                f"<script>var x = {doc_id};</script></head><body>"
                f"<nav>{nav}</nav>"
                + "".join(f"<p>{p}</p>" for p in paras)
                + "<footer><a href=\"/about\">about us</a></footer></body></html>")
        return html, "\n".join(paras)

    rows_hist = []
    next_id = 1
    for _ in range(history):
        fam = new_family(words_per_doc)
        html, text = render(next_id, families[fam])
        rows_hist.append((next_id, html, fam, True, text))
        next_id += 1
    epoch_rows = []
    n_hist_fams = len(families)
    fresh: list[int] = []  # full-length families born in an epoch
    for _ in range(epochs):
        rows = []
        for _ in range(per_epoch):
            u = r.random()
            if u < 0.1:  # low quality: a fresh family, too short
                fam = new_family(20)
                body, ok = families[fam], False
            elif u < 0.25:  # variant of a history document (index hit)
                fam = int(r.integers(0, n_hist_fams))
                body, ok = member(fam, near=r.random() < 0.5), True
            elif u < 0.5 and fresh:
                # variant of a family first seen in some epoch
                fam = fresh[int(r.integers(0, len(fresh)))]
                body, ok = member(fam, near=r.random() < 0.5), True
            else:
                fam = new_family(words_per_doc)
                fresh.append(fam)
                body, ok = families[fam], True
            html, text = render(next_id, body)
            rows.append((next_id, html, fam, ok, text))
            next_id += 1
        epoch_rows.append(rows)
    return {"history": rows_hist, "epochs": epoch_rows}


def expected_survivors(corpus: dict) -> list[set[int]]:
    """Per epoch, the ids the ingest loop must keep: quality-passing
    documents whose family is neither in the index nor kept by an
    earlier epoch, and which have the smallest id of their family in
    their epoch."""
    seen = {fam for _, _, fam, _, _ in corpus["history"]}
    out = []
    for rows in corpus["epochs"]:
        first: dict[int, int] = {}
        for doc_id, _, fam, ok, _ in rows:
            if ok and fam not in seen:
                first[fam] = min(first.get(fam, doc_id), doc_id)
        out.append(set(first.values()))
        seen |= set(first)
    return out
