"""Output checks against the pandas oracle (``searchengine_spark.oracle``).

Each check returns ``None`` when the engine's answer is right, else a short
reason. Pages must be rank-identical (same doc ids in the same order) with
scores equal to ``SCORE_DECIMALS`` decimals. Documents are compared by
(conv_id, turn_idx): after an append the engine numbers new documents past
its last id while the rebuilt oracle renumbers densely.
"""

from __future__ import annotations

from searchengine_spark.operators.search import SCORE_DECIMALS
from searchengine_spark.oracle.oracle import EmptySearchQueryError as OracleEmpty

TOL = 10.0 ** -SCORE_DECIMALS


def _page_diff(page, opage) -> str | None:
    keys = list(zip(page["conv_id"], page["turn_idx"].astype(int)))
    okeys = list(zip(opage["conv_id"], opage["turn_idx"].astype(int)))
    if keys != okeys:
        return f"rank {keys[:3]}... != oracle {okeys[:3]}..."
    for col in ("score", "relevance"):
        for a, b in zip(page[col], opage[col]):
            if abs(float(a) - float(b)) > TOL * max(1.0, abs(float(b))):
                return f"{col} {a} != oracle {b}"
    return None


def _oracle_page(op: dict, oracle):
    return oracle.search(
        op["query"], site=op["site"], offset=op["offset"], limit=20, mode=op["mode"]
    )


def search(op: dict, page, count: int, oracle) -> str | None:
    opage, ocount = _oracle_page(op, oracle)
    diff = _page_diff(page, opage)
    if diff:
        return diff
    if op["kind"] == "bm25_topk":  # the pruned count is a documented lower bound
        if not len(page) <= count <= ocount:
            return f"count {count} outside [{len(page)}, {ocount}]"
    elif count != ocount:
        return f"count {count} != oracle {ocount}"
    return None


def response(op: dict, resp: dict, oracle) -> str | None:
    opage, ocount = _oracle_page(op, oracle)
    if not resp.get("result") or resp.get("count") != ocount:
        return f"response count {resp.get('count')} != oracle {ocount}"
    uris = [d["uri"] for d in resp["data"]]
    ouris = [f"{c}/{t}" for c, t in zip(opage["conv_id"], opage["turn_idx"])]
    if uris != ouris:
        return "response rank differs from oracle"
    for d, rel in zip(resp["data"], opage["relevance"]):
        if abs(d["relevance"] - float(rel)) > TOL * max(1.0, abs(float(rel))):
            return f"relevance {d['relevance']} != oracle {rel}"
        if not d["snippet"] or not d["title"]:
            return f"empty snippet or title for {d['uri']}"
    return None


def statistics(stats: dict, oracle) -> str | None:
    got, want = stats["statistics"], oracle.statistics()["statistics"]
    if {k: got["total"][k] for k in want["total"]} != want["total"]:
        return f"totals {got['total']} != oracle {want['total']}"
    slim = [{k: d[k] for k in ("site", "pages", "lemmas")} for d in got["detailed"]]
    if slim != want["detailed"]:
        return "per-site statistics differ from oracle"
    return None


def short_circuit(engine, oracle, query: str, mode: str) -> str | None:
    """Engine and oracle agree on a query that needs no Spark job: both
    reject an empty lemma set, or both return an empty page."""
    from searchengine_spark.engine import EmptySearchQueryError

    try:
        opage, ocount = oracle.search(query, mode=mode)
    except OracleEmpty:
        try:
            engine.search(query, mode=mode)
        except EmptySearchQueryError:
            return None
        return f"{query!r}: engine accepted an empty lemma set"
    page, count = engine.search(query, mode=mode)
    if count != ocount:
        return f"{query!r}: count {count} != oracle {ocount}"
    return _page_diff(page, opage)
