"""Unit tests for the per-shard search kernel (no Spark needed): the
metadata-only seed-block pruning in reference mode must skip seed blocks
whose doc range overlaps no block of some other query term, without
changing the conjunctive result (Q2/Q3 analogs,
SearchServiceImpl.java:100-119)."""

import numpy as np
import pandas as pd

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
