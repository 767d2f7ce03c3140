"""Seeded input generators for the benchmark workloads.

Everything here is driver-side Python: the same seed gives the same rows,
and the pipeline under test only ever sees the rows, never the seed.

drift_chains
    Chains of near-duplicate captions.  Each row replaces a few caption
    tokens of its predecessor, so neighbours meet the caption rule
    (char-5 Jaccard >= 0.7) while rows further apart drift below it.  Every
    row gets its own random pixels, so only the caption channel links
    neighbours: a shared pHash would let the image channel join every pair
    of a chain and collapse the graph's diameter.  Chain lengths are spread
    uniformly over [CHAIN_MIN, CHAIN_MAX], and ids are a seeded shuffle, so
    a chain's minimum id can sit anywhere along it — except in the first
    chain, which is CHAIN_MAX long with its minimum id at its head.  That
    chain fixes the number of min-label propagation rounds connected
    components needs at the worst case for every seed, instead of letting
    the seed's placement of minimum ids decide it.

stream_batches
    The default ``SynthConfig`` corpus (captions only), split into
    micro-batches by an id hash so planted groups straddle batches.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from lshdedup.codec import phash64
from lshdedup.synth import SynthConfig, corpus_local, truth_pairs_local

CHAIN_MIN, CHAIN_MAX = 2, 32
DRIFT_TOKENS = 3
CAPTION_RULE = 0.7          # caption char-5 Jaccard of the verify rule
PHASH_RULE = 3              # pHash Hamming distance of the verify rule
K = 5


def char_grams(text: str, k: int = K) -> frozenset:
    """Distinct char k-grams, whole string when shorter than k — the set
    ``shingle.distinct_char_shingles_expr`` builds in Spark."""
    if len(text) < k:
        return frozenset([text])
    return frozenset(text[i:i + k] for i in range(len(text) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return 1.0 if union == 0 else len(a & b) / union


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


@dataclass
class DriftChains:
    rows: pd.DataFrame          # image_id, caption, phash
    chains: list[list[str]]     # image ids of each chain, in drift order


def drift_chains(seed: int, n_rows: int) -> DriftChains:
    """About ``n_rows`` rows of drifting chains (whole chains only)."""
    rng = np.random.Generator(np.random.PCG64([seed, 0xD21F7]))
    lengths = [CHAIN_MAX]
    while sum(lengths) < n_rows:
        lengths.append(int(rng.integers(CHAIN_MIN, CHAIN_MAX + 1)))
    total = sum(lengths)
    ids = [f"d{v:07d}" for v in rng.permutation(total)]
    least = min(range(CHAIN_MAX), key=ids.__getitem__)
    ids[0], ids[least] = ids[least], ids[0]

    captions: list[str] = []
    phashes: list[int] = []
    chains: list[list[str]] = []
    fresh = 1000  # replacement tokens never repeat, so every drift is real
    for length in lengths:
        tokens = [f"t{v}" for v in rng.integers(0, 500, size=int(rng.integers(40, 61)))]
        chain: list[str] = []
        for pos in range(length):
            if pos:
                prev = char_grams(" ".join(tokens))
                while True:
                    cand = list(tokens)
                    for p in rng.choice(len(cand), size=DRIFT_TOKENS, replace=False):
                        cand[p] = f"t{fresh}"
                        fresh += 1
                    if jaccard(prev, char_grams(" ".join(cand))) >= CAPTION_RULE:
                        tokens = cand
                        break
            pixels = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
            chain.append(ids[len(captions)])
            captions.append(" ".join(tokens))
            phashes.append(phash64(pixels))
        chains.append(chain)
    rows = pd.DataFrame({"image_id": ids, "caption": captions, "phash": phashes})
    return DriftChains(rows=rows, chains=chains)


def chain_truth(dc: DriftChains) -> set[tuple[str, str]]:
    """Planted pairs that meet the verify rule: every within-chain pair
    with caption Jaccard >= 0.7 or pHash distance <= 3."""
    by_id = dc.rows.set_index("image_id")
    truth = set()
    for chain in dc.chains:
        grams = [char_grams(by_id.at[i, "caption"]) for i in chain]
        ph = [int(by_id.at[i, "phash"]) for i in chain]
        for x in range(len(chain)):
            for y in range(x + 1, len(chain)):
                if (jaccard(grams[x], grams[y]) >= CAPTION_RULE
                        or hamming64(ph[x], ph[y]) <= PHASH_RULE):
                    truth.add(tuple(sorted((chain[x], chain[y]))))
    return truth


def synth_rows(seed: int, n_rows: int) -> pd.DataFrame:
    """The default-shape synthetic corpus (``lshdedup.synth``)."""
    return corpus_local(SynthConfig(n_rows=n_rows, seed=seed))


def synth_truth(seed: int, n_rows: int, rows: pd.DataFrame,
                use_phash: bool) -> set[tuple[str, str]]:
    """Planted pairs of the synthetic corpus that meet the verify rule
    (the pHash channel only where the workload uses it)."""
    planted = truth_pairs_local(SynthConfig(n_rows=n_rows, seed=seed))
    by_id = rows.set_index("image_id")
    truth = set()
    for a, b in zip(planted["id_a"], planted["id_b"]):
        ok = jaccard(char_grams(by_id.at[a, "caption"]),
                     char_grams(by_id.at[b, "caption"])) >= CAPTION_RULE
        if not ok and use_phash:
            ok = hamming64(int(by_id.at[a, "phash"]), int(by_id.at[b, "phash"])) <= PHASH_RULE
        if ok:
            truth.add((a, b) if a < b else (b, a))
    return truth


def stream_batches(rows: pd.DataFrame, n_batches: int) -> list[pd.DataFrame]:
    """Split (image_id, caption) rows into micro-batches by a stable id
    hash, keeping generation order inside each batch."""
    slot = np.array([zlib.crc32(i.encode()) % n_batches for i in rows["image_id"]])
    narrow = rows[["image_id", "caption"]]
    return [narrow[slot == b].reset_index(drop=True) for b in range(n_batches)]
