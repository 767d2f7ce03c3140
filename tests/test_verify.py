"""Verification stage semantics (dna_benchmark.h:197-225 + graft paths)."""

import pytest
from pyspark.sql import functions as F

from lshdedup.config import DedupConfig
from lshdedup.minhash import add_signatures, minhash_similarity_expr
from lshdedup.simhash import simhash_udf
from lshdedup.verify import longest_common_substring_ratio, pair_scores, verify_pairs


def test_lcs_ratio():
    assert longest_common_substring_ratio("abcdef", "abcdef") == 1.0
    assert longest_common_substring_ratio("xxabcdyy", "zzabcdww") == pytest.approx(4 / 8)
    assert longest_common_substring_ratio("abc", "") == 0.0
    assert longest_common_substring_ratio("aaaa", "bbbb") == 0.0
    # substring containment
    assert longest_common_substring_ratio("hello world", "lo wor") == 1.0


def _docs(spark, cfg, rows):
    df = spark.createDataFrame(rows, ["image_id", "caption", "phash"])
    return add_signatures(df, cfg)


def test_verify_exact_mode(spark):
    cfg = DedupConfig(k=3, n_perm=64, threshold=0.6, use_phash=True)
    docs = _docs(
        spark,
        cfg,
        [
            ("a", "shared caption text here", 100),
            ("b", "shared caption text here", 100),      # exact text dup
            ("c", "totally different words entirely", 101),  # phash near-dup of a (hamming 1 vs 100... )
            ("d", "nothing in common with anything", 1 << 40),
        ],
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d")], ["id_a", "id_b"]
    )
    got = {(r["id_a"], r["id_b"]): r for r in verify_pairs(pairs, docs, cfg).collect()}
    assert got[("a", "b")]["is_dup"] is True
    assert got[("a", "b")]["jaccard"] == 1.0
    # a-c: caption jaccard tiny, but phash hamming(100,101)=bit_count(1)=1 <= 3
    assert got[("a", "c")]["phash_hamming"] == 1
    assert got[("a", "c")]["is_dup"] is True
    # hopeless pairs may be pre-pruned entirely; if present they are not dups
    assert ("a", "d") not in got or got[("a", "d")]["is_dup"] is False


def test_verify_minhash_mode(spark):
    cfg = DedupConfig(k=3, n_perm=128, threshold=0.5, verify_mode="minhash", use_phash=False)
    docs = _docs(spark, cfg, [("a", "abcdefgh abcdefgh", 0), ("b", "abcdefgh abcdefgh", 0)])
    pairs = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    got = verify_pairs(pairs, docs, cfg).first()
    assert got["mh_sim"] == 1.0 and got["is_dup"] is True


def test_verify_simhash_channel(spark):
    cfg = DedupConfig(
        k=3, n_perm=64, threshold=0.95, verify_mode="exact+simhash",
        simhash_max_hamming=8, use_phash=False,
    )
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("dog", "cat")
    df = spark.createDataFrame(
        [("a", base, 0), ("b", near, 1 << 30)], ["image_id", "caption", "phash"]
    )
    docs = add_signatures(df, cfg).withColumn("simhash", simhash_udf(cfg)(F.col("caption")))
    pairs = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    got = verify_pairs(
        pairs, docs, cfg, phash_col=None, simhash_col="simhash"
    ).first()
    # jaccard < 0.95 but simhash hamming small → near-exact channel fires
    assert got["jaccard"] < 0.95
    assert got["simhash_hamming"] <= 8
    assert got["is_dup"] is True


def test_verify_lcs_channel(spark):
    cfg = DedupConfig(k=3, n_perm=64, threshold=0.99, use_phash=False, lcs_min_ratio=0.7)
    contained = "exactly this long shared substring appears"
    df = spark.createDataFrame(
        [
            ("a", f"prefix junk {contained}", 0),
            ("b", f"{contained} other suffix material", 0),
        ],
        ["image_id", "caption", "phash"],
    )
    docs = add_signatures(df, cfg, phash_col="_none_")
    pairs = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    got = verify_pairs(pairs, docs, cfg, phash_col=None).first()
    assert got["lcs_ratio"] > 0.7
    assert got["is_dup"] is True


def test_verify_lcs_mode_keeps_prefilter(spark):
    """With the LCS channel ON, genuinely-dissimilar candidates must be
    pre-pruned BEFORE the suffix-automaton UDF (the pre-fix code set
    pre=True, funneling every candidate through per-pair Python); the
    true substring pair must still verify."""
    cfg = DedupConfig(k=3, n_perm=64, threshold=0.99, use_phash=False,
                      lcs_min_ratio=0.7)
    contained = "exactly this long shared substring appears"
    df = spark.createDataFrame(
        [
            ("a", f"prefix junk {contained}", 0),
            ("b", f"{contained} other suffix material", 0),
            ("c", "zq zq completely unrelated text with nothing shared", 0),
            ("d", "different again xylophone quartz vortex blanket", 0),
        ],
        ["image_id", "caption", "phash"],
    )
    docs = add_signatures(df, cfg, phash_col="_none_")
    pairs = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("a", "d")], ["id_a", "id_b"]
    )
    out = verify_pairs(pairs, docs, cfg, phash_col=None)
    rows = {(r["id_a"], r["id_b"]): r for r in out.collect()}
    # the substring pair survives the screen and fires the LCS channel
    assert rows[("a", "b")]["lcs_ratio"] > 0.7
    assert rows[("a", "b")]["is_dup"] is True
    # dissimilar candidates are absent — pruned before the UDF stage
    assert ("c", "d") not in rows and ("a", "d") not in rows


# --- the pair-scoring kernel ------------------------------------------------

def _char_grams(s, k):
    """Python char-k-gram set oracle: a string of fewer than k code points
    is one whole-string gram; null is its own one-gram set."""
    if s is None:
        return {None}
    return {s[i : i + k] for i in range(max(len(s) - k + 1, 1))}


def _jaccard(a, b, k):
    ga, gb = _char_grams(a, k), _char_grams(b, k)
    return len(ga & gb) / len(ga | gb)


def _random_pairs(n, seed=7):
    import random

    rnd = random.Random(seed)
    # 1-, 2-, 3- and 4-byte UTF-8 code points, whitespace and newlines
    alpha = list("abcde \n") + ["é", "ж", "ß", "中", "文", "€", "😀", "𝄞"]

    def text():
        r = rnd.random()
        if r < 0.04:
            return None
        if r < 0.08:
            return ""
        pool = alpha[:7] if r < 0.4 else alpha       # ASCII-only and mixed
        return "".join(rnd.choice(pool) for _ in range(rnd.randint(0, 40)))

    rows = []
    for _ in range(n):
        a = text()
        if a is not None and rnd.random() < 0.5:     # a near-dup of a
            b = a[: rnd.randint(0, len(a))] + "".join(
                rnd.choice(alpha) for _ in range(rnd.randint(0, 6))
            )
        else:
            b = text()
        rows.append((a, b))
    rows += [(None, None), (None, ""), ("", ""), ("ab", "ab"), ("ab", "abc")]
    return rows


def test_pair_kernel_matches_char_gram_oracle(spark):
    """Over 3,000 random pairs (multi-byte UTF-8, newlines, strings shorter
    than k, '' and null) the kernel's Jaccard equals a Python char-gram
    oracle, and — null aside — the native string-set expression it
    replaced."""
    from lshdedup.shingle import distinct_char_shingles_expr, exact_jaccard_expr
    from lshdedup.verify import pair_scores

    k = 3
    rows = _random_pairs(3000)
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "i long, a string, b string"
    ).repartition(3)
    got = df.select(
        "i",
        pair_scores(k, text_a=F.col("a"), text_b=F.col("b")).alias("s"),
        exact_jaccard_expr(
            distinct_char_shingles_expr(F.col("a"), k),
            distinct_char_shingles_expr(F.col("b"), k),
        ).alias("native"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        a, b = rows[r["i"]]
        s = r["s"]
        ga, gb = _char_grams(a, k), _char_grams(b, k)
        assert (s["inter"], s["n_a"], s["n_b"]) == (len(ga & gb), len(ga), len(gb)), (a, b)
        assert s["jaccard"] == _jaccard(a, b, k)
        assert s["mh_sim"] is None
        if a is not None and b is not None:
            assert s["jaccard"] == r["native"]
    by_pair = {rows[r["i"]]: r["s"]["jaccard"] for r in got}
    assert by_pair[(None, None)] == 1.0
    assert by_pair[(None, "")] == 0.0
    assert by_pair[("", "")] == 1.0


def _materialized_docs(spark, cfg, rows, tmp_path):
    """Signed docs read back from parquet, so a plan over them holds only
    verify's own operators (as the checkpointed `verified` stage does)."""
    path = str(tmp_path / "signed")
    _docs(spark, cfg, rows).write.parquet(path)
    return spark.read.parquet(path)


def test_verified_plan_has_one_kernel_and_no_lambdas(spark, tmp_path):
    cfg = DedupConfig(k=3, n_perm=64, threshold=0.6, use_phash=True)
    docs = _materialized_docs(
        spark, cfg, [("a", "some caption text", 1), ("b", "some caption texts", 3)], tmp_path
    )
    pairs = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    out = verify_pairs(pairs, docs, cfg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    for hof in ("lambdafunction", "zip_with", "transform(", "filter("):
        assert hof not in plan, hof
    assert out.filter("is_dup").count() == 1


def _head_verify_oracle(docs, pairs, cfg):
    """verify_pairs' semantics in plain Python, as the native-expression
    implementation it replaced computed them: the 6σ MinHash floor, the
    LCS screen on gram counts, exact char-gram Jaccard, the LCS channel."""
    import math

    from lshdedup.verify import longest_common_substring_ratio

    out = {}
    floor = cfg.threshold - 3.0 / cfg.n_perm ** 0.5
    for a, b in pairs:
        (ta, sa), (tb, sb) = docs[a], docs[b]
        mh = sum(x == y for x, y in zip(sa, sb)) / len(sa)
        ga, gb = _char_grams(ta, cfg.k), _char_grams(tb, cfg.k)
        inter = len(ga & gb)
        slack = cfg.lcs_screen_slack
        required = math.ceil(cfg.lcs_min_ratio * min(len(ta), len(tb))) - (cfg.k - 1)
        if not (
            mh >= floor
            or inter * slack >= required
            or inter * slack >= cfg.lcs_min_ratio * min(len(ga), len(gb))
        ):
            continue
        jac = inter / (len(ga) + len(gb) - inter)
        lcs = longest_common_substring_ratio(ta, tb)
        out[(a, b)] = (mh, jac, lcs, jac >= cfg.threshold or lcs >= cfg.lcs_min_ratio)
    return out


def test_verify_lcs_screen_matches_native_semantics(spark):
    """With the LCS screen on, the kernel's gram counts feed the screen:
    the kept pairs and every score equal the replaced implementation's."""
    cfg = DedupConfig(k=3, n_perm=64, threshold=0.8, use_phash=False,
                      lcs_min_ratio=0.5)
    shared = "a long run of words both captions share verbatim"
    texts = {
        "a": f"{shared} then one ending",
        "b": f"{shared} then another ending",
        "c": f"quite different opening words, then {shared}",
        "d": "zebra quartz fjord vixen plumb",
        "e": "zebra quartz fjord vixen plumbs",
        "f": "nothing whatsoever in common here",
        "g": "ééé 中文 text with multibyte 😀 characters",
        "h": "ééé 中文 text with multibyte 😀 character",
        "i": "ab",
    }
    df = spark.createDataFrame(
        [(i, t, 0) for i, t in texts.items()], ["image_id", "caption", "phash"]
    )
    docs = add_signatures(df, cfg, phash_col="_none_")
    sigs = {r["image_id"]: (r["caption"], list(r["sig"])) for r in docs.collect()}
    ids = sorted(texts)
    pair_list = [(x, y) for x in ids for y in ids if x < y]
    pairs = spark.createDataFrame(pair_list, ["id_a", "id_b"])
    got = {
        (r["id_a"], r["id_b"]): (r["mh_sim"], r["jaccard"], r["lcs_ratio"], r["is_dup"])
        for r in verify_pairs(pairs, docs, cfg, phash_col=None).collect()
    }
    want = _head_verify_oracle(sigs, pair_list, cfg)
    assert got == want
    # the screen keeps pairs the MinHash floor alone drops, and still
    # prunes others
    assert any(v[0] < cfg.threshold - 3.0 / 8 for v in got.values())
    assert len(got) < len(pair_list)


def test_ragged_signatures_give_null_mh_sim(spark):
    """Signatures of different lengths have no lane agreement: mh_sim is
    NULL (minhash mode), and in exact mode such a pair is kept only by
    another channel, still with NULL mh_sim."""
    rows = [("a", "same caption", 5, [1, 2, 3, 4]), ("b", "same caption", 5, [1, 2, 3]),
            ("c", "same caption", 5, [1, 2, 3, 4])]
    docs = spark.createDataFrame(rows, "image_id string, caption string, phash long, sig array<bigint>")
    pairs = spark.createDataFrame([("a", "b"), ("a", "c")], ["id_a", "id_b"])
    mh_cfg = DedupConfig(k=3, n_perm=4, threshold=0.5, verify_mode="minhash", use_phash=False)
    got = {(r["id_a"], r["id_b"]): r for r in verify_pairs(pairs, docs, mh_cfg).collect()}
    assert got[("a", "b")]["mh_sim"] is None and got[("a", "b")]["is_dup"] is None
    assert got[("a", "c")]["mh_sim"] == 1.0
    ex_cfg = DedupConfig(k=3, n_perm=4, threshold=0.5, use_phash=True)
    got = {(r["id_a"], r["id_b"]): r for r in verify_pairs(pairs, docs, ex_cfg).collect()}
    assert got[("a", "b")]["mh_sim"] is None
    assert got[("a", "b")]["jaccard"] == 1.0 and got[("a", "b")]["is_dup"] is True
    no_channel = DedupConfig(k=3, n_perm=4, threshold=0.5, use_phash=False)
    got = {(r["id_a"], r["id_b"]) for r in verify_pairs(pairs, docs, no_channel).collect()}
    assert got == {("a", "c")}


def test_kernel_mh_sim_matches_native_expression(spark):
    """The kernel's lane agreement equals minhash_similarity_expr, the
    native reference, over equal-length, ragged and null signatures."""
    import random

    rnd = random.Random(3)

    def sig(n):
        return [rnd.randrange(4) for _ in range(n)]

    rows = [(sig(m), sig(m)) for m in (1, 4, 16, 128) for _ in range(20)]
    rows += [(sig(4), sig(5)), (sig(128), sig(64)), (sig(3), None), (None, sig(3)), (None, None)]
    df = spark.createDataFrame(rows, "a array<bigint>, b array<bigint>").repartition(3)
    got = df.select(
        minhash_similarity_expr(F.col("a"), F.col("b")).alias("ref"),
        pair_scores(3, F.col("a"), F.col("b"))["mh_sim"].alias("kernel"),
    ).collect()
    assert len(got) == len(rows)
    assert all(r["ref"] == r["kernel"] for r in got if r["ref"] is not None)
    assert [r["kernel"] is None for r in got] == [r["ref"] is None for r in got]
    assert sum(r["ref"] is None for r in got) == 5
