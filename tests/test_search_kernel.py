"""Unit tests for the per-shard search kernel (no Spark needed): the
metadata-only seed-block pruning in reference mode must skip seed blocks
whose doc range overlaps no block of some other query term, without
changing the conjunctive result (Q2/Q3 analogs,
SearchServiceImpl.java:100-119); the bm25 block-max loop must return
brute-force BM25's top-k and counts on random shards."""

import numpy as np
import pandas as pd
import pytest

from searchengine_spark.functions.codec import delta_encode, varint_encode
from searchengine_spark.operators import search as S


def _block_row(term: str, doc_ids: list[int], tfs: list[int]) -> dict:
    ids = np.asarray(doc_ids, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    return {
        "shard": 0,
        "term": term,
        "min_doc": int(ids.min()),
        "max_doc": int(ids.max()),
        "count": len(ids),
        "block_max_tf": int(t.max()),
        "doc_gaps": varint_encode(delta_encode(ids)),
        "tfs": varint_encode(t),
    }


def _shard_pdf(rows: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(rows)


def test_seed_block_pruning_skips_nonoverlapping_blocks(monkeypatch):
    # seed term "rare" (fewest in-shard postings) has two blocks; the
    # [0..9] one overlaps NO block of "hot", so pruning must drop it
    # before decode. Conjunction lives entirely in [100..109].
    rare_b1 = _block_row("rare", list(range(0, 10)), [1] * 10)
    rare_b2 = _block_row("rare", list(range(100, 110)), [2] * 10)
    hot = _block_row("hot", list(range(100, 130)), [3] * 30)
    pdf = _shard_pdf([rare_b1, rare_b2, hot])

    decoded_rows: list[tuple[str, int]] = []
    real_decode = S._decode_block_rows

    def spy(block_pdf):
        if len(block_pdf):
            decoded_rows.append(
                (str(block_pdf["term"].iloc[0]), len(block_pdf))
            )
        return real_decode(block_pdf)

    monkeypatch.setattr(S, "_decode_block_rows", spy)
    kernel = S.make_shard_kernel(
        terms=["rare", "hot"],
        mode="reference",
        k=20,
        idf={},
        k1=1.2,
        b=0.75,
        avgdl=10.0,
        allowed_site_ids=None,
    )
    out = kernel(pdf)
    assert list(out["doc_id"]) == list(range(100, 110))
    assert (out["score"] == 5.0).all()  # tf 2 + tf 3
    assert (out["cand"] == 10).all()
    # the seed decode saw ONE pruned block row, not two
    assert ("rare", 1) in decoded_rows
    assert ("rare", 2) not in decoded_rows


def test_seed_block_pruning_empty_conjunction(monkeypatch):
    # disjoint ranges: every seed block is pruned, result is empty and
    # nothing is decoded at all
    rare = _block_row("rare", list(range(0, 10)), [1] * 10)
    hot = _block_row("hot", list(range(50, 80)), [1] * 30)
    pdf = _shard_pdf([rare, hot])

    calls = []
    real_decode = S._decode_block_rows

    def spy(block_pdf):
        calls.append(len(block_pdf))
        return real_decode(block_pdf)

    monkeypatch.setattr(S, "_decode_block_rows", spy)
    kernel = S.make_shard_kernel(
        terms=["rare", "hot"],
        mode="reference",
        k=20,
        idf={},
        k1=1.2,
        b=0.75,
        avgdl=10.0,
        allowed_site_ids=None,
    )
    out = kernel(pdf)
    assert len(out) == 0
    assert all(n == 0 for n in calls)


def test_seed_block_pruning_keeps_full_overlap_result():
    # fully overlapping ranges: pruning is a no-op and the conjunction is
    # exactly the shared docs with summed tfs
    a = _block_row("a", [1, 3, 5, 7], [1, 1, 1, 1])
    b = _block_row("b", [3, 4, 5, 6], [2, 2, 2, 2])
    pdf = _shard_pdf([a, b])
    kernel = S.make_shard_kernel(
        terms=["a", "b"],
        mode="reference",
        k=20,
        idf={},
        k1=1.2,
        b=0.75,
        avgdl=10.0,
        allowed_site_ids=None,
    )
    out = kernel(pdf)
    assert list(out["doc_id"]) == [3, 5]
    assert list(out["score"]) == [3.0, 3.0]


def _random_case(rng: np.random.Generator):
    """A random shard (posting blocks of 1–4 terms, doc lengths, site ids)
    and its fully decoded postings."""
    n_docs = int(rng.integers(50, 2000))
    bs = int(rng.choice([4, 8, 16, 32, 64, 128]))
    dl = rng.integers(1, 60, n_docs)
    sites = np.repeat(np.arange(3), n_docs // 3 + 1)[:n_docs]
    postings, rows = {}, []
    for t in [f"t{j}" for j in range(int(rng.integers(1, 5)))]:
        lo = int(rng.integers(0, n_docs))
        hi = int(rng.integers(lo + 1, n_docs + 1))  # confined to [lo, hi)
        span = np.arange(lo, hi)
        n = max(1, int(len(span) * rng.uniform(0.01, 1)))
        ids = np.sort(rng.choice(span, n, replace=False))
        tfs = np.minimum(rng.zipf(rng.uniform(1.5, 3.0), len(ids)), 50)  # skewed
        postings[t] = (ids, tfs)
    every_doc = np.arange(n_docs)
    columns = {**postings, S.DOCLEN_TERM: (every_doc, dl), S.SITE_TERM: (every_doc, sites)}
    for t, (ids, vals) in columns.items():
        rows += [
            _block_row(t, ids[i : i + bs], vals[i : i + bs])
            for i in range(0, len(ids), bs)
        ]
    return _shard_pdf(rows), postings, dl, sites


def _brute_bm25(postings, dl, sites, idf, allowed, k1, b, avgdl):
    """Every doc's BM25 score over the decoded postings: (ids, scores)."""
    total: dict[int, float] = {}
    for t, (ids, tfs) in postings.items():
        for d, tf in zip(ids.tolist(), tfs.tolist()):
            if allowed is None or sites[d] in allowed:
                norm = k1 * (1.0 - b + b * dl[d] / avgdl)
                total[d] = total.get(d, 0.0) + idf[t] * tf * (k1 + 1.0) / (tf + norm)
    return np.array(list(total), np.int64), np.array(list(total.values()))


@pytest.mark.parametrize("seed", range(6))
def test_bm25_block_max_loop_matches_brute_force(seed):
    """On random shards (block sizes 4–128, skewed tfs, terms confined to
    part of the doc range, 1–4 terms, k ∈ {0, 1, 20, 60}, site filter on
    or off) the bm25 kernel's rows are brute-force BM25's top-k, ranked by
    (round(score, 9) desc, doc_id); the exact count is the candidate count,
    and a pruned count lies between the page length and it."""
    rng = np.random.default_rng(seed)
    k1, b = 1.2, 0.75
    for _ in range(100):
        pdf, postings, dl, sites = _random_case(rng)
        terms = sorted(postings)
        idf = {t: float(rng.uniform(0.1, 8.0)) for t in terms}
        allowed = None
        if rng.random() < 0.4:
            allowed = sorted(rng.choice(3, int(rng.integers(1, 3)), replace=False).tolist())
        k = int(rng.choice([0, 1, 20, 60]))
        avgdl = float(dl.mean())
        ids, sc = _brute_bm25(postings, dl, sites, idf, allowed, k1, b, avgdl)
        order = np.lexsort((ids, -np.round(sc, S.SCORE_DECIMALS)))[:k]
        for exact in (True, False):
            kernel = S.make_shard_kernel(
                terms, "bm25", k, idf, k1, b, avgdl, allowed, exact_count=exact
            )
            out = kernel(pdf)
            count = int(out["cand"].iloc[0]) if len(out) else 0
            page = out[out["doc_id"] >= 0]
            assert list(page["doc_id"]) == ids[order].tolist()
            np.testing.assert_allclose(
                page["score"].to_numpy(float), sc[order], rtol=1e-12
            )
            if exact:
                assert count == len(ids)
            else:
                assert len(page) <= count <= len(ids)


def test_memo_lru_cap_bounds_adversarial_term_stream():
    """VERDICT r4 #8: a million distinct cold terms must not grow the
    searcher's driver-side memos past MEMO_CAP; hot entries survive
    because reads refresh recency."""
    cache = S._LRUCache(cap=S.MEMO_CAP)
    hot = "hotterm"
    cache[hot] = [1]
    for i in range(1_000_000):
        cache[f"cold{i}"] = [i]
        if i % 50_000 == 0:  # must re-touch within cap inserts to stay hot
            _ = cache[hot]  # a repeated query keeps the hot term resident
        assert len(cache) <= S.MEMO_CAP
    assert hot in cache
    assert len(cache) == S.MEMO_CAP
    # bulk update routes through eviction too
    cache.update({f"bulk{i}": {0: 1.0} for i in range(S.MEMO_CAP + 10)})
    assert len(cache) == S.MEMO_CAP
