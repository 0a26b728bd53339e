"""Seeded input generators for the benchmark workloads.

Every generator takes the benchmark seed and writes plain files (JSON
fixtures or parquet); the program under test only ever sees those
files. The same seed gives byte-identical files (see
``test_perfbench.py``). Each generator also returns the facts the
output checks need (planted groups, per-day aggregates) and a small
dict of input properties that the run records next to its metrics.

Random streams are keyed ``default_rng([seed, stream, ...])`` so that
adding a stream never shifts another one's draws.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STREAM_COINS, STREAM_DOCS, STREAM_EMB, STREAM_EVENTS, STREAM_SCHEDULE = 1, 2, 3, 4, 5


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# medallion_daily: CoinGecko-shaped /coins/markets pages, one fixture per ds
# ---------------------------------------------------------------------------


def coin_days(
    root: str,
    seed: int,
    n_days: int,
    coins_per_day: int = 2000,
    per_page: int = 100,
    new_share: float = 0.03,
    repeat_share: float = 0.05,
    rerun_share: float = 0.2,
    start: str = "2024-01-01",
) -> dict:
    """Write ``root/<ds>.json`` for ``n_days`` consecutive days.

    Each day lists ``coins_per_day`` records in pages of ``per_page``.
    A ``new_share`` of the active coins is delisted and replaced by new
    ids every day; a ``repeat_share`` of the day's coins is observed
    twice (so Gold's avg/min/max differ). ``schedule`` is the order in
    which the chain runs the days: every day once, and after a seeded
    ``rerun_share`` of them an earlier ds is cleared and re-run.

    Returns ``{"days": [{"ds", "path", "pages", "gold"}], "schedule",
    "props"}``; ``gold`` maps coin_id -> (avg_price, min_price,
    max_price, avg_market_cap) computed here, independently of Spark.
    """
    os.makedirs(root, exist_ok=True)
    r = _rng(seed, STREAM_COINS)
    n_repeat = int(round(coins_per_day * repeat_share))
    n_coins = coins_per_day - n_repeat
    active = np.arange(n_coins)
    next_id = n_coins
    base_price = np.exp(r.normal(0.0, 3.0, size=4 * n_coins * max(n_days, 1)))
    supply = np.exp(r.normal(16.0, 2.0, size=base_price.size))
    day0 = dt.date.fromisoformat(start)
    days = []
    for d in range(n_days):
        if d:
            n_new = int(round(n_coins * new_share))
            drop = r.choice(n_coins, size=n_new, replace=False)
            active = active.copy()
            active[drop] = np.arange(next_id, next_id + n_new)
            next_id += n_new
        ds = (day0 + dt.timedelta(days=d)).isoformat()
        coins = np.concatenate([active, r.choice(active, size=n_repeat, replace=False)])
        coins = coins[r.permutation(coins.size)]
        drift = np.exp(r.normal(0.0, 0.05, size=coins.size))
        price = np.round(base_price[coins] * drift, 6)
        mcap = np.round(price * supply[coins], 2)
        minute = r.integers(0, 24 * 60, size=coins.size)
        records, gold = [], {}
        for i, (c, p, m, mi) in enumerate(zip(coins.tolist(), price.tolist(), mcap.tolist(), minute.tolist())):
            cid = f"coin-{c:06d}"
            records.append(
                {
                    "page": i // per_page + 1,
                    "id": cid,
                    "symbol": f"c{c}",
                    "name": f"Coin {c}",
                    "current_price": p,
                    "market_cap": m,
                    "last_updated": f"{ds}T{mi // 60:02d}:{mi % 60:02d}:00.000Z",
                }
            )
            gold.setdefault(cid, []).append((p, m))
        path = os.path.join(root, f"{ds}.json")
        with open(path, "w") as f:
            json.dump(records, f)
        days.append(
            {
                "ds": ds,
                "path": path,
                "pages": (len(records) + per_page - 1) // per_page,
                "gold": {
                    cid: (
                        sum(p for p, _ in obs) / len(obs),
                        min(p for p, _ in obs),
                        max(p for p, _ in obs),
                        sum(m for _, m in obs) / len(obs),
                    )
                    for cid, obs in gold.items()
                },
            }
        )
    s = _rng(seed, STREAM_SCHEDULE)
    schedule = []
    for d in range(n_days):
        schedule.append(d)
        if d and s.random() < rerun_share:
            schedule.append(int(s.integers(0, d)))
    return {
        "days": days,
        "schedule": schedule,
        "props": {
            "coins_per_day": coins_per_day,
            "records_per_day": coins_per_day,
            "per_page": per_page,
            "days_generated": n_days,
            "new_coin_share": new_share,
            "repeat_obs_share": repeat_share,
            "rerun_share": rerun_share,
        },
    }


# ---------------------------------------------------------------------------
# corpus: documents with planted duplicate / PII / near-dup / junk groups
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


def _vocab(r: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = r.integers(3, 9, size=n)
    words = {"".join(r.choice(letters, size=k)) for k in lens}
    return np.array(sorted(words - set(STOPWORDS)))


def _pii(r: np.random.Generator, kind: int) -> str:
    if kind == 0:
        return f"user{int(r.integers(0, 10**6))}@mail{int(r.integers(0, 100))}.com"
    if kind == 1:
        return f"{int(r.integers(100, 1000))}-{int(r.integers(100, 1000))}-{int(r.integers(1000, 10000))}"
    return ".".join(str(int(x)) for x in r.integers(1, 255, size=4))


def corpus(
    path: str,
    seed: int,
    n_docs: int,
    tokens_per_doc: int = 50,
    exact_dup_share: float = 0.08,
    pii_share: float = 0.05,
    neardup_share: float = 0.05,
    junk_share: float = 0.05,
    first_id: int = 0,
    stream: int = 0,
) -> dict:
    """Write a ``documents``-shaped parquet of ``n_docs`` rows.

    Base docs are ~``tokens_per_doc`` tokens (≈300 chars) over a seeded
    vocabulary with stopwords mixed in. Planted, by share of n_docs:

    - exact-duplicate groups (2-4 identical copies);
    - PII-only groups: 2-3 copies differing only in the value of one
      email, phone number or IPv4 address, which redact to the same text;
    - near-duplicates: a copy with 3 tokens replaced;
    - junk: a short run of one repeated token (quality below 0.3).

    Returns ``{"path", "exact_groups", "pii_groups", "neardup_pairs",
    "junk", "props"}`` with groups as lists of doc ids.
    """
    r = _rng(seed, STREAM_DOCS, stream)
    vocab = _vocab(_rng(seed, STREAM_DOCS), 3000)
    stop = np.array(STOPWORDS)

    def base_text() -> list[str]:
        toks = r.choice(vocab, size=tokens_per_doc)
        mask = r.random(tokens_per_doc) < 0.25
        toks[mask] = r.choice(stop, size=int(mask.sum()))
        return toks.tolist()

    texts: list[str] = []
    exact_groups, pii_groups, neardup_pairs, junk = [], [], [], []
    budget = {
        "exact": int(n_docs * exact_dup_share),
        "pii": int(n_docs * pii_share),
        "near": int(n_docs * neardup_share),
        "junk": int(n_docs * junk_share),
    }
    while budget["exact"] >= 2:
        k = min(int(r.integers(2, 5)), budget["exact"])
        budget["exact"] -= k
        t = " ".join(base_text())
        exact_groups.append(list(range(len(texts), len(texts) + k)))
        texts.extend([t] * k)
    while budget["pii"] >= 2:
        k = min(int(r.integers(2, 4)), budget["pii"])
        budget["pii"] -= k
        toks = base_text()
        at = int(r.integers(1, len(toks) - 1))
        kind = int(r.integers(0, 3))  # email, phone or IPv4: one kind per group, so all mask alike
        pii_groups.append(list(range(len(texts), len(texts) + k)))
        for _ in range(k):
            texts.append(" ".join(toks[:at] + ["contact", _pii(r, kind)] + toks[at:]))
    while budget["near"] >= 2:
        budget["near"] -= 2
        toks = base_text()
        other = list(toks)
        for i in r.choice(len(toks), size=3, replace=False):
            other[i] = str(r.choice(vocab))
        neardup_pairs.append((len(texts), len(texts) + 1))
        texts.extend([" ".join(toks), " ".join(other)])
    for _ in range(budget["junk"]):
        junk.append(len(texts))
        texts.append(" ".join([str(r.choice(vocab))] * int(r.integers(3, 8))))
    while len(texts) < n_docs:
        texts.append(" ".join(base_text()))
    # shuffle ids so planted groups are not adjacent
    perm = r.permutation(n_docs)
    ids = np.empty(n_docs, dtype=np.int64)
    ids[perm] = np.arange(n_docs) + first_id
    order = np.argsort(ids)
    langs = np.array(["en", "es", "zh", "de", "fr"])
    tbl = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array(langs[r.choice(5, size=n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
            "source": pa.array([f"src{int(i) % 20}" for i in ids[order]]),
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )
    _write_parquet(tbl, path)
    return {
        "path": path,
        "exact_groups": [ids[g].tolist() for g in exact_groups],
        "pii_groups": [ids[g].tolist() for g in pii_groups],
        "neardup_pairs": [tuple(ids[list(p)].tolist()) for p in neardup_pairs],
        "junk": ids[junk].tolist(),
        "props": {
            "docs": n_docs,
            "avg_chars": round(float(np.mean([len(t) for t in texts])), 1),
            "exact_dup_share": exact_dup_share,
            "pii_share": pii_share,
            "neardup_share": neardup_share,
            "junk_share": junk_share,
        },
    }


# ---------------------------------------------------------------------------
# index day: clustered embeddings, appended in daily batches
# ---------------------------------------------------------------------------


def _emb_table(ids: np.ndarray, x: np.ndarray) -> pa.Table:
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
        }
    )


def embedding_stream(
    root: str,
    seed: int,
    n_base: int,
    n_days: int,
    batch_size: int,
    lookups_per_day: int,
    queries_per_lookup: int,
    dim: int = 64,
    clusters: int = 16,
) -> dict:
    """Write the base corpus, one append batch per day and the lookup
    query batches, all as ``embeddings``-shaped parquet.

    Vectors are ``clusters`` Gaussian blobs; every batch and every
    lookup batch is drawn like the base corpus, so every day costs
    alike.

    Returns file paths plus the float32 arrays the recall check uses.
    """
    r = _rng(seed, STREAM_EMB)
    centres = r.normal(0.0, 1.0, size=(clusters, dim))

    def draw(n: int) -> np.ndarray:
        c = r.integers(0, clusters, size=n)
        return (centres[c] + r.normal(0.0, 0.35, size=(n, dim))).astype(np.float32)

    base = draw(n_base)
    base_ids = np.arange(n_base, dtype=np.int64)
    base_path = os.path.join(root, "base.parquet")
    _write_parquet(_emb_table(base_ids, base), base_path)
    batches, lookups = [], []
    next_id = n_base
    for d in range(1, n_days + 1):
        x = draw(batch_size)
        ids = np.arange(next_id, next_id + batch_size, dtype=np.int64)
        next_id += batch_size
        p = os.path.join(root, f"batch_{d:03d}.parquet")
        _write_parquet(_emb_table(ids, x), p)
        batches.append({"path": p, "ids": ids, "x": x})
        day_lookups = []
        for j in range(lookups_per_day):
            q = draw(queries_per_lookup)
            qids = np.arange(queries_per_lookup, dtype=np.int64) + (10**9 + d * 10**5 + j * 10**3)
            qp = os.path.join(root, f"lookup_{d:03d}_{j:02d}.parquet")
            _write_parquet(_emb_table(qids, q), qp)
            day_lookups.append({"path": qp, "ids": qids, "x": q})
        lookups.append(day_lookups)
    return {
        "base": {"path": base_path, "ids": base_ids, "x": base},
        "batches": batches,
        "lookups": lookups,
        "props": {
            "base_vectors": n_base,
            "dim": dim,
            "clusters": clusters,
            "batch_size": batch_size,
            "lookups_per_day": lookups_per_day,
            "queries_per_lookup": queries_per_lookup,
            "days_generated": n_days,
        },
    }


def exact_topk(corpus_x: np.ndarray, corpus_ids: np.ndarray, q: np.ndarray, k: int = 10) -> list[set]:
    """Exact cosine top-k ids per query row (the recall reference)."""
    c = corpus_x.astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    qq = q.astype(np.float64)
    qq /= np.linalg.norm(qq, axis=1, keepdims=True)
    sims = qq @ c.T
    top = np.argpartition(-sims, k, axis=1)[:, :k]
    return [set(corpus_ids[row].tolist()) for row in top]




# ---------------------------------------------------------------------------
# interaction events for the registry's streaming query
# ---------------------------------------------------------------------------


def events(path: str, seed: int, n: int, users: int = 75) -> dict:
    """Write an ``events``-shaped parquet of ``n`` rows over one month
    (the columns, types and value domains of the registry's own test
    data)."""
    r = _rng(seed, STREAM_EVENTS)
    lo = np.datetime64("2024-01-01T00:00:00.000000", "us").astype(np.int64)
    hi = np.datetime64("2024-01-30T23:59:59.999999", "us").astype(np.int64)
    ts = np.sort(r.integers(lo, hi + 1, size=n)).astype("datetime64[us]")
    kinds = np.array(["signup", "click", "error", "view", "purchase"])
    tbl = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, users, n), pa.int64()),
            "event_type": pa.array(kinds[r.integers(0, 5, n)], pa.string()),
            "value": pa.array(np.round(r.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)], pa.string()),
        }
    )
    _write_parquet(tbl, path)
    return {"path": path, "props": {"events": n, "users": users, "days": 30}}
