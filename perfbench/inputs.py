"""Seeded benchmark inputs: every table is a pure function of ``seed``.

Transcripts are ``pyppi_spark.datagen``'s conversations: its per-conversation
size draw (Zipf(1.5), capped at 20,000 turns) and its row generator. About
half of all turns under that draw sit in the few capped conversations, so the
total of a fixed number of conversations swings by tens of percent from seed
to seed. The benchmark therefore takes a *stratified* sample of datagen's
draw instead of cutting its tail: sizes are binned geometrically, each bin
gets its expected share of ``N_CONVS`` conversations under datagen's own
distribution, and each bin is filled with the first conversations, in
datagen's id order, whose drawn size falls in it. The size histogram is the
distribution's at every seed, the capped giants included, and the total
varies by about 2%.

Documents and embeddings follow the shape measured on the repo's corpus
testdata (sf0.1: 5,000 documents, 2,000 embeddings):

- documents: 10-100 tokens drawn uniformly from a 30-word vocabulary;
  measured ``lang`` marginals; ``source = src{doc_id % 20}``; 5% of the
  documents are then overwritten, one after another, with a copy of a
  uniformly drawn document plus the token ``dup`` (3-gram Jaccard around
  0.98, so they verify as near-duplicates at 0.8). Two copies of the same
  document are exact duplicates of each other, which is where sf0.1's exact
  duplicates (8 in 5,000) come from.
- embeddings: 64-dim unit vectors in uniformly random directions, with a
  label uniform over 10 values. In sf0.1 the per-label means are within
  sampling noise of 0 (norm about 0.07) and the per-dimension deviation is
  0.1245, about 1/sqrt(64), so the label carries no direction.

They are generated here, never read from a shared test-data directory.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyppi_spark import datagen

# transcript_features: conversations in the stratified sample, size-bin
# width ratio, probe sample
N_CONVS = 740
BIN_RATIO = 1.5
PROBE_CONV_FRAC = 0.10
PROBES_PER_CONV = 4

# the sf0.1 corpus shape (see the module docstring)
VOCAB = np.array(
    """a agg batch big column customer data fast filter group hash join key
    line merge order part query row scan slow small sort spark stream table
    the value vector window""".split()
)
DUP_TOKEN = "dup"
DUP_FRAC = 0.05
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.4118, 0.1506, 0.1488, 0.1484, 0.1404])
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10


def size_bins() -> tuple[np.ndarray, np.ndarray]:
    """(lower edges, probabilities) of the size bins under datagen's draw:
    geometric bins of ratio ``BIN_RATIO`` below the cap, and the cap alone."""
    a, cap = datagen.ZIPF_A, datagen.MAX_TURNS
    # zeta(a): partial sum plus the Euler-Maclaurin tail
    m = np.arange(1, 10**6 + 1, dtype=float)
    zeta = (m**-a).sum() + m[-1] ** (1 - a) / (a - 1) - m[-1] ** -a / 2
    pmf = np.arange(1, cap, dtype=float) ** -a / zeta  # sizes 1 .. cap-1
    edges = [1]
    while edges[-1] < cap:
        edges.append(min(cap, max(edges[-1] + 1, int(np.ceil(edges[-1] * BIN_RATIO)))))
    p = [pmf[lo - 1 : hi - 1].sum() for lo, hi in zip(edges, edges[1:])]
    return np.array(edges), np.array(p + [1.0 - pmf.sum()])


def bin_quotas(n_convs: int) -> np.ndarray:
    """Conversations per size bin: the expected counts, rounded by largest
    remainder so they sum to ``n_convs``."""
    _, p = size_bins()
    want = n_convs * p
    q = np.floor(want).astype(int)
    q[np.argsort(-(want - q), kind="stable")[: n_convs - q.sum()]] += 1
    return q


def select_conversations(seed: int, n_convs: int = N_CONVS) -> tuple[list[str], str]:
    """(conversation ids, id of the largest) for one seed: the stratified
    sample of datagen's size draw described in the module docstring."""
    edges, _ = size_bins()
    left = bin_quotas(n_convs)
    chosen: list[tuple[int, str]] = []
    i = 0
    while left.any():
        cid = f"conv{i:07d}"  # datagen.conv_ids' naming, without a bound
        n = datagen.conv_n_turns(seed, cid)
        b = int(np.searchsorted(edges, n, side="right")) - 1
        if left[b]:
            left[b] -= 1
            chosen.append((n, cid))
        i += 1
    giant = max(chosen)[1]
    return sorted(c for _, c in chosen), giant


def transcripts_pdf(seed: int, ids: list[str]) -> pd.DataFrame:
    """The rows of the chosen conversations, from datagen's per-conversation
    generator (what ``datagen.gen_transcripts_df`` runs per id)."""
    return pd.concat([datagen.gen_conv(seed, c) for c in ids], ignore_index=True)


def probe_conversations(seed: int, ids: list[str], giant: str) -> list[str]:
    """The seeded probe sample: PROBE_CONV_FRAC of the conversations,
    always including the giant."""
    rng = np.random.default_rng([seed, 11])
    k = max(1, int(len(ids) * PROBE_CONV_FRAC))
    pick = set(rng.choice(np.array(ids), size=k, replace=False).tolist())
    pick.add(giant)
    return sorted(pick)


def probes_pdf(transcripts: pd.DataFrame, seed: int, probe_ids: list[str]) -> pd.DataFrame:
    return datagen.gen_probes_pdf(
        transcripts[transcripts["conv_id"].isin(probe_ids)], seed=seed, per_conv=PROBES_PER_CONV
    )


def documents_pdf(seed: int, n: int) -> pd.DataFrame:
    """``n`` documents in the sf0.1 shape (see the module docstring)."""
    rng = np.random.default_rng([seed, 21])
    ntok = rng.integers(10, 101, size=n)
    texts = [" ".join(rng.choice(VOCAB, size=k)) for k in ntok]
    n_dup = int(DUP_FRAC * n)
    for a, b in zip(rng.integers(0, n, size=n_dup), rng.choice(n, size=n_dup, replace=False)):
        texts[b] = f"{texts[a]} {DUP_TOKEN}"
    doc_id = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": np.array([f"src{i % N_SOURCES}" for i in doc_id]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_pdf(seed: int, n: int) -> pd.DataFrame:
    """``n`` 64-dim float32 unit vectors in the sf0.1 shape."""
    rng = np.random.default_rng([seed, 31])
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": rng.integers(0, N_LABELS, size=n).astype(np.int32),
        }
    )
