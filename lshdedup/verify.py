"""Candidate-pair verification — the reference's "lsh + 过滤" filter stage
(dna_benchmark.h:197-225, filter :209-214) plus the graft's extra precision
paths (exact Jaccard, SimHash hamming, suffix-automaton LCS substring).

Pair scoring is ONE vectorized Arrow UDF (``pair_scores``), evaluated once
per candidate pair and shared by batch verify and streaming.  Per Arrow
batch it computes the MinHash lane agreement as one equality reduction
over the flattened signature buffers and, for the pairs that pass the
prefilter only, exact char-k-gram Jaccard counts
(hashing.char_gram_pair_counts) — numpy over Arrow buffers, no per-row
Python.  Spark has no native form of either that avoids higher-order
functions: the lane count was zip_with + filter and the gram sets were
transform(sequence, substring) + transform(xxhash64), about 1,250 lambda
calls per pair, which Spark does not compile and runs interpreted.  The
hamming channels (pHash, SimHash) stay native expressions; the optional
LCS path (inherently per-pair sequential) is a pandas UDF and runs last,
on the prefiltered remnant.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from lshdedup.config import DedupConfig
from lshdedup.hashing import char_gram_pair_counts
from lshdedup.simhash import hamming_expr


def enrich_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    cols: list[str],
) -> DataFrame:
    """Attach per-side attribute columns to (id_a, id_b) pairs.

    Two hash equi-joins against the (much smaller) doc-attribute table;
    AQE broadcasts when the doc side fits.
    """
    left = docs.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in cols]
    )
    right = docs.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in cols]
    )
    return pairs.join(left, "id_a").join(right, "id_b")


def longest_common_substring_ratio(a: str, b: str) -> float:
    """len(LCS-substring) / min(len) via a suffix automaton of ``a`` —
    O(|a|+|b|).  The "suffix-array substring path" of the north rule
    (NOT in the reference)."""
    if not a or not b:
        return 0.0
    if len(a) > len(b):
        a, b = b, a
    # suffix automaton over a
    link = [-1]
    length = [0]
    trans: list[dict[str, int]] = [{}]
    last = 0
    for ch in a:
        cur = len(length)
        length.append(length[last] + 1)
        link.append(-1)
        trans.append({})
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = trans[p][ch]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = len(length)
                length.append(length[p] + 1)
                link.append(link[q])
                trans.append(dict(trans[q]))
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    # walk b
    v, cur_len, best = 0, 0, 0
    for ch in b:
        while v and ch not in trans[v]:
            v = link[v]
            cur_len = length[v]
        if ch in trans[v]:
            v = trans[v][ch]
            cur_len += 1
            if cur_len > best:
                best = cur_len
    return best / min(len(a), len(b))


def lcs_ratio_udf():
    @F.pandas_udf(DoubleType())
    def lcs(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for a, b in it:
            yield pd.Series(
                [
                    longest_common_substring_ratio(x or "", y or "")
                    for x, y in zip(a, b)
                ]
            )

    return lcs


_SCORES = "mh_sim double, jaccard double, inter bigint, n_a bigint, n_b bigint"


def lane_agreement(sig_a: pa.Array, sig_b: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Per row, the fraction of equal lanes of two list<int64> signature
    arrays (minhash.h:188-207), and where it is defined: a null, empty or
    ragged (sizes differ) pair has no value, as with
    minhash_similarity_expr.  Signature lanes are never null."""
    n = len(sig_a)
    oa = np.asarray(sig_a.offsets, dtype=np.int64)
    ob = np.asarray(sig_b.offsets, dtype=np.int64)
    lens = np.diff(oa)
    valid = (lens == np.diff(ob)) & (lens > 0)
    for sig in (sig_a, sig_b):
        if sig.null_count:
            valid &= ~sig.is_null().to_numpy(zero_copy_only=False)
    va = sig_a.values.to_numpy()
    vb = sig_b.values.to_numpy()
    # one (row, lane) entry per lane of each comparable pair, gathered
    # from the flattened child buffers
    rows = np.flatnonzero(valid)
    rl = lens[rows]
    rep = np.repeat(rows, rl)
    lane = np.arange(int(rl.sum()), dtype=np.int64) - np.repeat(np.cumsum(rl) - rl, rl)
    eq = np.bincount(rep, weights=va[oa[rep] + lane] == vb[ob[rep] + lane], minlength=n)
    sim = np.zeros(n, dtype=np.float64)
    np.divide(eq, lens, out=sim, where=valid)
    return sim, valid


def score_pairs(
    sig_a: pa.Array,
    sig_b: pa.Array,
    text_a: pa.Array,
    text_b: pa.Array,
    gate: pa.Array,
    k: int,
    mh_floor: float,
    grams: bool,
) -> pa.StructArray:
    """One Arrow batch of candidate pairs → struct<mh_sim, jaccard, inter,
    n_a, n_b>.  A pair is scored (its char-k-gram sets derived) when
    ``gate`` holds or its mh_sim reaches ``mh_floor``; the gram fields of
    the others are NULL, so gram work scales with prefilter survivors."""
    n = len(sig_a)
    sim, valid = lane_agreement(sig_a, sig_b)
    scored = (
        gate.fill_null(False).to_numpy(zero_copy_only=False) | (valid & (sim >= mh_floor))
        if grams
        else np.zeros(n, dtype=bool)
    )
    counts = np.zeros((3, n), dtype=np.int64)
    jac = np.zeros(n, dtype=np.float64)
    if scored.any():
        keep = pa.array(scored)
        inter, n_a, n_b = char_gram_pair_counts(text_a.filter(keep), text_b.filter(keep), k)
        counts[:, scored] = inter, n_a, n_b
        # every string has at least one gram ('' and null one each), so the
        # union is never empty
        jac[scored] = inter / (n_a + n_b - inter)
    unscored = ~scored
    return pa.StructArray.from_arrays(
        [pa.array(sim, mask=~valid), pa.array(jac, mask=unscored)]
        + [pa.array(c, mask=unscored) for c in counts],
        names=["mh_sim", "jaccard", "inter", "n_a", "n_b"],
    )


def pair_scores(
    k: int,
    sig_a: Column | None = None,
    sig_b: Column | None = None,
    text_a: Column | None = None,
    text_b: Column | None = None,
    gate: Column | None = None,
    mh_floor: float = float("inf"),
) -> Column:
    """The pair-scoring kernel as one struct column <mh_sim, jaccard,
    inter, n_a, n_b> (score_pairs).  Without signatures mh_sim is NULL;
    without texts no grams are derived; without ``gate`` every pair is
    scored.

    Marked nondeterministic so Catalyst evaluates it once per pair: a
    deterministic Python UDF read by both a filter and a projection is
    pushed into each and planned as two ArrowEvalPython nodes."""
    grams = text_a is not None
    no_sig = F.lit(None).cast("array<bigint>")
    no_text = F.lit(None).cast("string")

    @F.arrow_udf(_SCORES)
    def scores(
        sa: pa.Array, sb: pa.Array, ta: pa.Array, tb: pa.Array, g: pa.Array
    ) -> pa.Array:
        return score_pairs(sa, sb, ta, tb, g, k, mh_floor, grams)

    return scores.asNondeterministic()(
        no_sig if sig_a is None else sig_a,
        no_sig if sig_b is None else sig_b,
        no_text if text_a is None else text_a,
        no_text if text_b is None else text_b,
        F.lit(True) if gate is None else gate,
    )


def verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "image_id",
    text_col: str = "caption",
    phash_col: str | None = "phash",
    sig_col: str = "sig",
    simhash_col: str | None = None,
) -> DataFrame:
    """Score candidate pairs and decide ``is_dup``.

    Emitted columns: id_a, id_b, mh_sim, jaccard, (phash_hamming),
    (simhash_hamming), (lcs_ratio), is_dup.  Pairs whose minhash estimate
    sits ≥6σ below the threshold (and that no other channel could accept)
    are pre-pruned and absent from the output — they could never verify.

    Decision (cfg.verify_mode):
      minhash        — mh_sim >= threshold (the reference's own filter,
                       dna_benchmark.h:209-214)
      exact          — exact caption Jaccard >= threshold, OR image
                       near-dup (phash hamming <= simhash_max_hamming), OR
                       near-exact caption (simhash hamming) when enabled
      exact+simhash  — as exact, with the simhash channel forced on
    """
    use_phash = phash_col is not None and cfg.use_phash and phash_col in docs.columns
    want_simhash = (
        cfg.verify_mode == "exact+simhash" and simhash_col is not None
    )
    exact = cfg.verify_mode != "minhash"
    cols = (
        [sig_col]
        + ([text_col] if exact else [])
        + ([phash_col] if use_phash else [])
        + ([simhash_col] if want_simhash else [])
    )
    rich = enrich_pairs(pairs, docs.select(id_col, *cols), id_col, cols)

    def sides(c: str) -> tuple[Column, Column]:
        return F.col(f"{c}_a"), F.col(f"{c}_b")

    if not exact:
        out = rich.withColumn("mh_sim", pair_scores(cfg.k, *sides(sig_col))["mh_sim"])
        out = out.withColumn("is_dup", F.col("mh_sim") >= cfg.threshold)
        return out.select("id_a", "id_b", "mh_sim", "is_dup")

    # channels that accept a pair whatever its MinHash estimate
    hamming = {}
    if use_phash:
        hamming["phash_hamming"] = hamming_expr(*sides(phash_col))
    if want_simhash:
        hamming["simhash_hamming"] = hamming_expr(*sides(simhash_col))
    channel = F.lit(False)
    for h in hamming.values():
        channel = channel | (h <= cfg.simhash_max_hamming)
    # cheap prefilter before the exact intersection: with n_perm lanes the
    # estimator's s.d. is ≤ 0.5/√n_perm, so a margin of 6σ below the
    # threshold cannot drop a true pair; hamming-channel pairs are kept
    # unconditionally.  The kernel derives gram sets only for the pairs
    # this keeps — except with the LCS channel on, whose screen below
    # needs every candidate's gram counts.
    mh_floor = cfg.threshold - 3.0 / (cfg.n_perm ** 0.5)
    lcs = cfg.lcs_min_ratio > 0
    out = rich.withColumn(
        "_s",
        pair_scores(
            cfg.k, *sides(sig_col), *sides(text_col),
            gate=F.lit(True) if lcs else channel, mh_floor=mh_floor,
        ),
    )
    pre = (F.col("_s.mh_sim") >= mh_floor) | channel
    if lcs:
        # The LCS channel must NOT disable the prefilter (the
        # suffix-automaton UDF is the most expensive stage; it has to see a
        # bounded remnant, not every candidate).  Native screen, a pair
        # survives if EITHER holds within a 1/slack factor:
        #   * absolute bound — a common substring of length L contributes
        #     at most L-k+1 shared k-grams, so gram intersection near
        #     ceil(ρ·min_len)-k+1;
        #   * containment bound — the substring covers ≥ρ of the SMALLER
        #     doc, so a large share of its DISTINCT grams is shared; this
        #     keeps low-entropy docs (few distinct grams in a long repeat)
        #     the absolute bound would drop.
        # The screen is a heuristic (adversarial content can still evade
        # it); lcs_screen_slack <= 0 disables it and restores the
        # scan-every-candidate behavior at its full cost.
        if cfg.lcs_screen_slack <= 0:
            pre = F.lit(True)
        else:
            inter = F.col("_s.inter")
            min_len = F.least(*[F.length(c) for c in sides(text_col)])
            required = F.ceil(F.lit(cfg.lcs_min_ratio) * min_len) - F.lit(cfg.k - 1)
            smaller = F.least(F.col("_s.n_a"), F.col("_s.n_b"))
            slack = F.lit(cfg.lcs_screen_slack)
            pre = (
                pre
                | (inter * slack >= required)
                | (inter * slack >= F.lit(cfg.lcs_min_ratio) * smaller)
            )
    out = out.filter(pre).withColumns(
        {"mh_sim": F.col("_s.mh_sim"), "jaccard": F.col("_s.jaccard"), **hamming}
    )
    dup: Column = F.col("jaccard") >= cfg.threshold
    for name in hamming:
        dup = dup | (F.col(name) <= cfg.simhash_max_hamming)
    keep = ["id_a", "id_b", "mh_sim", "jaccard", *hamming]
    if lcs:
        out = out.withColumn("lcs_ratio", lcs_ratio_udf()(*sides(text_col)))
        dup = dup | (F.col("lcs_ratio") >= cfg.lcs_min_ratio)
        keep.append("lcs_ratio")
    return out.withColumn("is_dup", dup).select(*keep, "is_dup")
