"""Seeded benchmark inputs. The same seed always gives the same inputs;
the engine only ever sees what these functions return."""

from __future__ import annotations

import numpy as np
import pandas as pd

from searchengine_spark.functions.lemmatize import query_lemmas
from searchengine_spark.sources.transcripts import HOT_TERMS, generate_transcripts

#: the corpus is TURNS consecutive turns of the ``small`` fixture (three
#: sites), starting at a conversation chosen by the seed: every seed does the
#: same amount of work over the same vocabulary
FIXTURE = "small"
TURNS = 2000

#: request kinds of the serve stream, issued round-robin
MODES = ["ref", "bm25", "bm25_topk", "response", "stats"]

# The serve mix below is assumed, not measured: the repository has no search
# log to draw it from. The equal kind shares, the lemma-count weights and the
# pool weights are unverified guesses. The gated latency weighs every kind
# equally (workloads.serve), so the kind shares only set sample counts.
#: weights of 1, 2, 3 and 4 lemmas per query
LEMMA_COUNT_WEIGHTS = [0.4, 0.3, 0.2, 0.1]
#: weights of the term pools of :func:`term_pools`, in its order
POOL_WEIGHTS = [0.3, 0.35, 0.2, 0.15]

#: queries that return before any Spark job runs: checked, never timed
SHORT_CIRCUIT = ["the of and", "zzqxwv", "hotalpha zzqxwv", "и в на"]


def corpus(seed: int) -> pd.DataFrame:
    pdf = generate_transcripts(FIXTURE)
    num = pdf["conv_id"].str.split("-").str[1].astype(int)
    start = int(np.random.default_rng(seed).integers(num.max() // 2))
    order = np.lexsort((pdf["turn_idx"], num))
    pdf = pdf.iloc[order[(num.iloc[order] >= start).to_numpy()][:TURNS]]
    return pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].dropna().map(lambda t: len(t.encode("utf-8"))).sum())


def term_pools(oracle) -> dict[str, list[str]]:
    """Query vocabulary by kind, from the oracle's index of the corpus."""
    df = oracle.terms.groupby("term")["df"].sum()
    cyr = df.index.str.contains("[а-яё]", regex=True)
    return {
        "hot": [t for t in HOT_TERMS if t in df.index],
        "body": sorted(df[(df >= 10) & (df <= 200) & ~cyr].index),
        "rare": sorted(df[(df <= 3) & ~cyr].index),
        "ru": sorted(df[cyr].index),
    }


def term_sites(oracle) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    for term, site in zip(oracle.terms["term"], oracle.terms["site"]):
        out.setdefault(term, set()).add(site)
    return out


def short_circuits(
    term_sites: dict[str, set[str]], lemmas: set[str], mode: str, site: str | None
) -> bool:
    """True when the engine answers without a Spark job: no lemmas, or no
    site passes the gate (reference: every lemma present; bm25: any)."""
    if not lemmas:
        return True
    per_lemma = [term_sites.get(t, set()) for t in lemmas]
    if mode == "reference":
        gated = set.intersection(*per_lemma)
    else:
        gated = set.union(*per_lemma)
    return not (gated if site is None else gated & {site})


def serve_stream(seed: int, oracle):
    """Endless request stream: 1-4 lemmas drawn from the hot terms, the Zipf
    body, the rare tail and the Russian/mixed tokens; ~10% site-scoped, ~10%
    with a pagination offset. Requests that would short-circuit are redrawn.
    About one request in ten (and each of the first fifty) is marked for an
    oracle check. The weights are the assumed ones above."""
    rng = np.random.default_rng(seed + 1)
    pools = term_pools(oracle)
    kinds = list(pools)
    sites = sorted(oracle.documents["site"].unique())
    ts = term_sites(oracle)
    n = 0
    while True:
        kind = MODES[n % len(MODES)]
        op = {"kind": kind, "id": n}
        if kind != "stats":
            k = int(rng.choice([1, 2, 3, 4], p=LEMMA_COUNT_WEIGHTS))
            picks = rng.choice(kinds, size=k, p=POOL_WEIGHTS)
            words = [pools[p][int(rng.integers(len(pools[p])))] for p in picks]
            op["query"] = " ".join(words)
            op["site"] = str(rng.choice(sites)) if rng.random() < 0.1 else None
            op["offset"] = int(rng.choice([20, 40])) if rng.random() < 0.1 else 0
            op["mode"] = "reference" if kind == "ref" else "bm25"
            if kind == "response":
                op["mode"] = str(rng.choice(["reference", "bm25"]))
            if short_circuits(ts, query_lemmas(op["query"]), op["mode"], op["site"]):
                continue
        op["check"] = n < 50 or rng.random() < 0.1
        yield op
        n += 1


def _letters(i: int) -> str:
    s = ""
    for _ in range(4):
        s += "bcdfghjklmnpqrtvwxz"[i % 19]
        i //= 19
    return s


def probe_token(seed: int, i: int) -> str:
    """A token unique to write ``i``: letters only (the tokenizer splits on
    anything else) and ending in a consonant, so it is its own lemma."""
    tok = "zq" + _letters(seed) + "x" + _letters(i) + "k"
    if query_lemmas(tok) != {tok}:
        raise ValueError(f"probe token {tok!r} is not its own lemma")
    return tok


def append_batch(seed: int, i: int, site: str, n_turns: int, ts) -> pd.DataFrame:
    """One conversation of new turns in ``site``; every turn carries the
    probe token of write ``i`` plus hot and ordinary words."""
    tok = probe_token(seed, i)
    conv = f"{site}-9{seed % 1000:03d}{i:02d}"
    return pd.DataFrame(
        {
            "conv_id": [conv] * n_turns,
            "turn_idx": np.arange(n_turns, dtype=np.int32),
            "role": ["user"] * n_turns,
            "text": [f"{tok} hotalpha walked data window {j}" for j in range(n_turns)],
            "tool": [None] * n_turns,
            "ts": [ts] * n_turns,
        }
    )


def analysis_tables(seed: int, pdf: pd.DataFrame, n_vectors: int = 500, dim: int = 64):
    """documents (doc_id, text) from the corpus with ~3% planted exact
    duplicates, and seeded embeddings with planted near-duplicate pairs."""
    rng = np.random.default_rng(seed + 2)
    texts = pdf["text"].dropna()
    texts = texts[texts != ""].tolist()
    dup = rng.choice(len(texts), size=max(1, len(texts) // 32), replace=False)
    texts = texts + [texts[i] for i in dup]
    docs = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    vecs = rng.normal(size=(n_vectors, dim)).astype(np.float32)
    near = rng.choice(n_vectors, size=2 * (n_vectors // 20), replace=False)
    a, b = near[: len(near) // 2], near[len(near) // 2:]
    vecs[b] = vecs[a] + 0.01 * rng.normal(size=(len(b), dim))
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vectors, dtype=np.int64),
            "embedding": [v.tolist() for v in vecs],
        }
    )
    return docs, emb
