"""Deterministic synthetic transcript corpus (FIXTURES.md §1).

The engine's input is an Iceberg-shaped table
``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)`` (BASELINE.json input_hint). No external data:
this generator is seeded (seed=42), pure numpy/python, and shared verbatim by
the Spark engine tests, the pandas oracle, and the bench harness, so all of
them see byte-identical inputs.

Corpus properties it guarantees (FIXTURES.md "what the corpus must exercise"):
Zipf(s=1.07) vocabulary of ~8,000 stems; 5 designated near-stopword terms in
~90% of turns (forces the doc-range skew-split path and block-max pruning);
inflected forms (stem/+s/+ed/+ing) so the lemmatizer is load-bearing; POS
stop-words; Russian, mixed-alphabet and ё tokens; URL/digit/punctuation
noise; ~2% empty and ~1% null texts (eligibility filter,
reference analog ``indexing/PageIndexer.java:65-67``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

SEED = 42
VOCAB_SIZE = 8000
ZIPF_S = 1.07

#: near-stopword terms injected into ~90% of turns — these are what trip the
#: skewed-high-DF handling (SURVEY §4.3.3). All lemmatize to themselves.
HOT_TERMS = ["hotalpha", "hotbeta", "hotgamma", "hotdelta", "hotepsilon"]

_EN_STOP_SAMPLE = [
    "the", "a", "an", "of", "in", "on", "and", "or", "but", "it", "they",
    "we", "to", "for", "with", "this", "that", "not",
]
_RU_SAMPLE = [
    "поиск", "поиска", "запрос", "запросом", "слово", "словами", "страница",
    "страницы", "индекс", "индексы", "лемма", "леммы", "ёж", "ежа", "и", "в",
    "на", "не", "logлог", "dataданные", "ёлка",
]
_NOISE_SAMPLE = [
    "https://example.com/a?b=1&c=2", "snake_case_id_42", "12345", "!!!",
    "foo-bar_baz.7", "...", "(parens)", "x=y+z",
]
_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["bash", "search", "browser"]

FIXTURE_SIZES = {
    # name: (n_sites, n_convs, mean_turns_per_conv)  → ~turns per FIXTURES.md
    "tiny": (1, 100, 10),
    "small": (3, 2000, 25),
    "bench": (3, 40000, 25),
    "bench4": (3, 160000, 25),  # ~4M turns — scaling-efficiency runs
    "bench16": (3, 640000, 25),  # ~16M turns — data-scaling (4× bench4)
}

_CONSONANTS = list("bcdfghjklmnpqrtvwz")  # no 's' → no stems ending in s
_VOWELS = list("aeiou")


def make_vocab(rng: np.random.Generator, size: int = VOCAB_SIZE) -> list[str]:
    """~`size` unique CV-syllable stems, none ending in s/ed/ing (so the
    rule lemmatizer's suffix stripping is injective on this vocabulary)."""
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < size:
        n = size - len(vocab)
        syls = rng.integers(2, 5, size=n)
        cons = rng.choice(_CONSONANTS, size=(n, 4))
        vows = rng.choice(_VOWELS, size=(n, 4))
        for i in range(n):
            w = "".join(cons[i, j] + vows[i, j] for j in range(syls[i]))
            if w not in seen and not w.endswith(("s", "ed", "ing")):
                seen.add(w)
                vocab.append(w)
    return vocab[:size]


def generate_transcripts(fixture: str = "tiny", seed: int = SEED) -> pd.DataFrame:
    """Generate one fixture corpus as a pandas DataFrame (deterministic)."""
    n_sites, n_convs, mean_turns = FIXTURE_SIZES[fixture]
    rng = np.random.default_rng(seed)
    vocab = np.array(make_vocab(rng), dtype=object)

    # Zipf(s) over the vocabulary (explicit normalized pmf — bounded support,
    # unlike numpy's unbounded zipf sampler).
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    zipf_p = ranks ** -ZIPF_S
    zipf_p /= zipf_p.sum()

    # conversations: site assignment round-robin, lengths ~ U[1, 2*mean-1]
    conv_sites = np.arange(n_convs) % n_sites
    conv_lens = rng.integers(1, 2 * mean_turns, size=n_convs)
    n_turns = int(conv_lens.sum())

    conv_idx_per_turn = np.repeat(np.arange(n_convs), conv_lens)
    turn_idx = np.concatenate([np.arange(l) for l in conv_lens]).astype(np.int32)

    # --- token stream (fully vectorized) ------------------------------------
    n_tok_per_turn = rng.integers(5, 81, size=n_turns)
    total_tokens = int(n_tok_per_turn.sum())
    cat = rng.choice(4, size=total_tokens, p=[0.80, 0.15, 0.02, 0.03])
    stem_ids = rng.choice(len(vocab), size=total_tokens, p=zipf_p)
    variant = rng.choice(4, size=total_tokens, p=[0.55, 0.20, 0.15, 0.10])

    base = vocab[stem_ids]
    suffixes = np.array(["", "s", "ed", "ing"], dtype=object)
    tokens = base + suffixes[variant]
    stop_pick = rng.integers(0, len(_EN_STOP_SAMPLE), size=total_tokens)
    ru_pick = rng.integers(0, len(_RU_SAMPLE), size=total_tokens)
    noise_pick = rng.integers(0, len(_NOISE_SAMPLE), size=total_tokens)
    tokens = np.where(cat == 1, np.array(_EN_STOP_SAMPLE, dtype=object)[stop_pick], tokens)
    tokens = np.where(cat == 2, np.array(_RU_SAMPLE, dtype=object)[ru_pick], tokens)
    tokens = np.where(cat == 3, np.array(_NOISE_SAMPLE, dtype=object)[noise_pick], tokens)

    # hot terms: each injected independently with p=0.9 per turn
    hot_mask = rng.random(size=(n_turns, len(HOT_TERMS))) < 0.9

    bounds = np.concatenate(([0], np.cumsum(n_tok_per_turn)))
    hot_arr = np.array(HOT_TERMS, dtype=object)
    texts: list[str | None] = []
    for i in range(n_turns):
        toks = tokens[bounds[i]:bounds[i + 1]]
        hot = hot_arr[hot_mask[i]]
        texts.append(" ".join(np.concatenate((hot, toks)).tolist()))

    # ~2% empty, ~1% null (eligibility-filter fodder)
    special = rng.random(n_turns)
    text_col = pd.Series(texts, dtype=object)
    text_col[special < 0.02] = ""
    text_col[(special >= 0.02) & (special < 0.03)] = None

    # roles / tools / ts
    role = np.array(_ROLES, dtype=object)[turn_idx % 3]
    sys_mask = (turn_idx == 0) & (rng.random(n_turns) < 0.2)
    role = np.where(sys_mask, "system", role)
    tool = np.where(
        role == "tool",
        np.array(_TOOLS, dtype=object)[rng.integers(0, 3, size=n_turns)],
        None,
    )
    ts = pd.Timestamp("2026-01-01T00:00:00") + pd.to_timedelta(
        60 * np.arange(n_turns), unit="s"
    )

    conv_ids = np.array(
        [f"conv{conv_sites[c]:02d}-{c:06d}" for c in range(n_convs)], dtype=object
    )
    return pd.DataFrame(
        {
            "conv_id": conv_ids[conv_idx_per_turn],
            "turn_idx": turn_idx,
            "role": role,
            "text": text_col,
            "tool": tool,
            "ts": ts,
        }
    )


def site_of_conv(conv_id: str) -> str:
    """The reference's ``site`` scoping (model/Site.java:17-50) mapped to a
    corpus grouping: the conv_id prefix before '-' (SURVEY §1.4)."""
    return conv_id.split("-", 1)[0]


def transcripts_spark_df(spark, fixture_or_pdf="tiny", cache_dir: str | None = None):
    """Fixture (or a prebuilt pandas frame) → Spark DataFrame with the exact
    input schema. With ``cache_dir``, materialize once as parquet and re-read
    (keeps bench runs I/O-bound like a real table scan, not driver-bound)."""
    import os

    pdf = (
        generate_transcripts(fixture_or_pdf)
        if isinstance(fixture_or_pdf, str)
        else fixture_or_pdf
    )
    if cache_dir:
        os.makedirs(cache_dir, exist_ok=True)
        name = fixture_or_pdf if isinstance(fixture_or_pdf, str) else "custom"
        path = os.path.join(cache_dir, f"transcripts_{name}.parquet")
        if not os.path.exists(path):
            # microsecond timestamps: Spark cannot read pandas' default
            # nanosecond INT64 column as ``timestamp``
            pdf.to_parquet(path, index=False, coerce_timestamps="us")
        return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
