"""Round-6 optimization equivalence: the codegen rewrites (explode +
hash-aggregate popcounts/minima, unrolled dot products, marker-count
aggregation) must be bit-identical to the round-5 higher-order-function
formulations, including the degenerate rows (NULL text, empty text,
whitespace-only text, off-length vectors) where the HOF NULL semantics
were subtle."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

EDGE_DOCS = [
    (1, "the quick brown fox the lazy dog the end"),
    (2, None),
    (3, ""),
    (4, "   \t  \n "),
    (5, "und und und"),
    (6, "der und die der und die der und die der und"),
    (7, "a b c d e f g h i j k l m n o p q r s t"),
    (8, "le et les le et les the and of"),
    (9, "x"),
    (10, "of of of of of of of of of of of of"),
]


def _docs(spark):
    return spark.createDataFrame(
        EDGE_DOCS, StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ])).withColumn("lang", F.lit("en"))


def _simhash_hof(df, text_col="text"):
    """The round-5 formulation: 60 size(filter()) scans per row."""
    from scribe_js_spark.textops.dedup import (
        SIMHASH_BITS, md5_60, token_sets)

    ts = token_sets(df, text_col).select(
        "doc_id", F.transform(F.col("toks"), md5_60).alias("_th"))

    def _bit_set(bit):
        return lambda h: (
            F.shiftrightunsigned(h, bit).bitwiseAND(F.lit(1)) == 1)

    n = F.size("_th")
    sig = F.lit(0).cast("long")
    for bit in range(SIMHASH_BITS):
        pop = F.size(F.filter(F.col("_th"), _bit_set(bit)))
        sig = sig + F.when(pop * 2 > n, F.lit(1 << bit).cast("long")) \
                     .otherwise(F.lit(0).cast("long"))
    return ts.select("doc_id", sig.alias("simhash"))


def _minhash_hof(df, text_col="text", num_hashes=32, shingle_n=3):
    """The round-5 formulation: transform + K array_min(transform())."""
    from scribe_js_spark.textops.dedup import (
        _M, _M31, _hash_coeffs, md5_60, shingles)

    a, b = _hash_coeffs(num_hashes)
    sh = shingles(df, text_col, shingle_n)
    hashed = sh.select(
        "doc_id",
        F.transform(
            F.col("shingles"),
            lambda s: md5_60(s) % F.lit(_M31)).alias("_h"))

    def _rehash(ai, bi):
        return lambda h: (h * F.lit(ai) + F.lit(bi)) % F.lit(_M)

    cols = [
        F.array_min(F.transform(F.col("_h"), _rehash(a[i], b[i])))
        .alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return hashed.select("doc_id", *cols)


def _lang_id_hof(df, text_col="text"):
    """The round-5 formulation: 36 size(filter()) marker scans."""
    from scribe_js_spark.textops.quality import LANG_MARKERS

    langs = list(LANG_MARKERS)
    toked = df.select(
        "doc_id", "lang",
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_toks"))

    def _is(word):
        return lambda x: x == F.lit(word)

    score_cols = []
    for l in langs:
        cnt = None
        for w in LANG_MARKERS[l]:
            c = F.size(F.filter(F.col("_toks"), _is(w)))
            cnt = c if cnt is None else cnt + c
        score_cols.append(cnt.cast("long").alias(f"score_{l}"))
    scored = toked.select("doc_id", "lang", *score_cols)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.when(best == 0, F.lit("und"))
    for l in langs:
        pred = pred.when(F.col(f"score_{l}") == best, F.lit(l))
    return scored.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        *[F.col(f"score_{l}").cast("long") for l in langs],
        pred.alias("lang_pred"),
    )


def _rows(df):
    return sorted(
        tuple(None if v is None else v for v in r)
        for r in df.collect())


def test_simhash_matches_hof(spark):
    from scribe_js_spark.textops.dedup import simhash

    docs = _docs(spark)
    assert _rows(simhash(docs)) == _rows(_simhash_hof(docs))


def test_minhash_signatures_match_hof(spark):
    from scribe_js_spark.textops.dedup import minhash_signatures

    docs = _docs(spark)
    assert _rows(minhash_signatures(docs)) == _rows(_minhash_hof(docs))


def test_lang_id_matches_hof(spark):
    from scribe_js_spark.textops.quality import lang_id

    docs = _docs(spark)
    assert _rows(lang_id(docs)) == _rows(_lang_id_hof(docs))


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]))


def test_embedding_near_dups_pairs_unique_without_distinct(spark):
    """The removed pair-.distinct() relied on the multiprobe join
    emitting each ordered pair at most once. Build a corpus with
    exact-bucket collisions, Hamming-1 and Hamming-2 bucket pairs and
    near-identical vectors, and assert (a) no duplicate pairs in the
    output, (b) output identical to the round-5 distinct-ful shape."""
    from scribe_js_spark.textops.similarity import (
        embedding_near_dups, lsh_bucket, with_lsh_bucket)

    dim = 8
    base = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3]
    rows = []
    for i in range(24):
        v = list(base)
        # large per-cluster perturbations so hyperplane signs flip:
        # clusters land in different (often Hamming-1) buckets
        v[i % dim] += (i // dim) * 2.5
        v[(i + 3) % dim] -= (i % 5) * 1.5
        rows.append((i, v))
    # exact duplicates too (same bucket, sim 1.0)
    rows.append((100, list(base)))
    rows.append((101, list(base)))
    df = _vecs(spark, rows)

    got = embedding_near_dups(
        df, threshold=0.5, dim=dim, n_planes=4).collect()
    pairs = [(r["vec_a"], r["vec_b"]) for r in got]
    assert len(pairs) == len(set(pairs)), "duplicate pair emitted"
    assert all(a < b for a, b in pairs)

    # round-5 reference: distinct-ful candidates -> cosine verify
    from scribe_js_spark.textops.similarity import _dot_sql, _norm_sql

    b = with_lsh_bucket(df, dim=dim, n_planes=4)
    probes = b.select(
        F.col("vec_id").alias("vid"),
        F.explode(F.array(
            F.col("lsh_bucket"),
            *[F.col("lsh_bucket").bitwiseXOR(F.lit(1 << p))
              for p in range(4)])).alias("probe"))
    cand = (
        probes.alias("a")
        .join(b.alias("b"), F.col("a.probe") == F.col("b.lsh_bucket"))
        .filter(F.col("a.vid") < F.col("b.vec_id"))
        .select(F.col("a.vid").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = df.select(F.col("vec_id").alias("vec_a"),
                   F.col("embedding").alias("va"))
    vb = df.select(F.col("vec_id").alias("vec_b"),
                   F.col("embedding").alias("vb"))
    ref = (
        cand.join(va, "vec_a").join(vb, "vec_b")
        .withColumn("sim", F.expr(
            f"{_dot_sql('va', 'vb')} / "
            f"({_norm_sql('va')} * {_norm_sql('vb')})"))
        .filter(F.col("sim") >= 0.5)
        .select("vec_a", "vec_b",
                F.floor(F.col("sim") * 1e6).cast("long").alias("sim_e6"))
    )
    want = sorted((r["vec_a"], r["vec_b"], r["sim_e6"])
                  for r in ref.collect())
    have = sorted((r["vec_a"], r["vec_b"], r["sim_e6"]) for r in got)
    assert have == want
    # sanity: the fixture actually produced pairs and spread buckets
    assert len(pairs) >= 10
    nb = df.select(lsh_bucket(
        "embedding", dim, 4).alias("b")).distinct().count()
    assert nb >= 2


def _near_dup_rows(df, **kw):
    """Sorted embedding_near_dups rows."""
    from scribe_js_spark.textops.similarity import embedding_near_dups

    return sorted(map(tuple, embedding_near_dups(df, **kw).collect()))


def _cosine_e6(u, v):
    """floor(cosine * 1e6) with the fold's exact float64 op order."""
    import math

    def dot(x, y):
        acc = 0.0
        for a, b in zip(x, y):
            acc += float(np.float32(a)) * float(np.float32(b))
        return acc

    sim = dot(u, v) / (math.sqrt(dot(u, u)) * math.sqrt(dot(v, v)))
    return math.floor(sim * 1e6)


def _cluster_rows(n):
    base = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3]
    rows = []
    for i in range(n):
        v = list(base)
        v[i % 8] += (i // 8) * 2.5
        v[(i + 3) % 8] -= (i % 5) * 1.5
        rows.append((i, v))
    return base, rows


def test_embedding_verify_keeps_nan_and_exact_pairs(spark):
    """The verify keeps every pair at or above the threshold with the
    exact left-fold sim_e6, keeps NaN rows with sim_e6 = 0 (Spark
    orders NaN above any threshold and floor-casts it to 0), and scores
    an exact duplicate pair 1000000."""
    base, rows = _cluster_rows(40)
    rows += [(100, list(base)), (101, list(base))]
    nanv = list(base)
    nanv[2] = float("nan")
    rows.append((200, nanv))
    got = _near_dup_rows(_vecs(spark, rows), threshold=0.5, dim=8,
                         n_planes=4)
    nan_rows = [r for r in got if 200 in r[:2]]
    assert nan_rows and all(r[2] == 0 for r in nan_rows)
    assert (100, 101, 1000000) in got
    vec = dict(rows)
    for a, b, e6 in got:
        if 200 not in (a, b):
            assert e6 == _cosine_e6(vec[a], vec[b]) >= 500000, (a, b)


def test_embedding_verify_cap_bounds_rows(spark):
    """max_bucket_size drops the hot bucket's pairs: the capped output
    is a strict subset of the uncapped one."""
    base, rows = _cluster_rows(48)
    rows += [(500 + j, list(base)) for j in range(9)]  # a hot bucket
    df = _vecs(spark, rows)
    kw = dict(threshold=0.5, dim=8, n_planes=4)
    capped = _near_dup_rows(df, max_bucket_size=4, **kw)
    uncapped = _near_dup_rows(df, **kw)
    assert capped and set(capped) < set(uncapped)


def test_embedding_verify_drops_ragged_and_null(spark):
    """A ragged or NULL vector has a NULL sim under the zip_with fold,
    so its pairs are dropped while the other pairs survive."""
    base = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3]
    rows = [(i, [x + i * 0.1 for x in base]) for i in range(12)]
    rows += [(300, [1.0, 2.0]), (301, None)]
    got = _near_dup_rows(_vecs(spark, rows), threshold=0.5, dim=8,
                         n_planes=4)
    assert got
    assert all(300 not in r[:2] and 301 not in r[:2] for r in got)


def test_embedding_verify_zero_norm_follows_ansi(spark):
    """Zero-norm vectors follow spark.sql.ansi.enabled: with ANSI off
    the zero-denominator pairs have a NULL sim and are dropped, with
    ANSI on the query fails with division by zero."""
    base = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3]
    rows = [(i, [x + i * 0.1 for x in base]) for i in range(12)]
    rows += [(50, [0.0] * 8), (51, [0.0] * 8)]
    df = _vecs(spark, rows)
    kw = dict(threshold=0.5, dim=8, n_planes=4)
    old = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        got = _near_dup_rows(df, **kw)
        assert len(got) == 66  # C(12, 2): every nonzero pair survives
        assert all(50 not in r[:2] and 51 not in r[:2] for r in got)
        spark.conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            _near_dup_rows(df, **kw)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_exact_dups_window_matches_join_shape(spark):
    """The window rewrite must keep the groupBy+join shape's exact
    semantics, including the subtle one: a NULL text row has a NULL
    signature, and the old inner join (like the oracle's JOIN USING)
    dropped it — the window must too."""
    from scribe_js_spark.textops.dedup import exact_dups

    rows = [(1, "a"), (2, "a"), (3, "b"), (4, None), (5, "a"), (6, "")]
    df = spark.createDataFrame(rows, StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]))
    got = _rows(exact_dups(df))

    sig = df.select("doc_id", F.md5(F.col("text")).alias("text_sig"))
    groups = sig.groupBy("text_sig").agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("canonical_id"))
    want = _rows(
        sig.join(groups, "text_sig")
        .select("doc_id", "text_sig", "n_copies", "canonical_id"))
    assert got == want
    assert all(r[0] != 4 for r in got), "NULL-text row must be dropped"
    assert any(r[0] == 6 for r in got), "empty-text row must be kept"


def test_simhash_first_match_equals_distinct(spark):
    """The uncapped simhash_candidates path dedups by first-matching
    block instead of .distinct(); a huge-cap call takes the capped
    (distinct-ful) branch with no key actually dropped, i.e. the
    round-5 semantics — the two must agree exactly, including exact
    duplicates (which match on all 4 blocks)."""
    from scribe_js_spark.textops.dedup import simhash_candidates

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),      # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),       # near dup
        (4, "totally different words entirely here now"),
        (5, "alpha beta gamma delta epsilon zeta"),      # exact dup of 1
        (6, None),
        (7, ""),
        (8, ""),                                         # dup of 7
    ]
    df = spark.createDataFrame(rows, StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]))
    got = _rows(simhash_candidates(df))
    want = _rows(simhash_candidates(df, max_bucket_size=10**9))
    assert got == want
    keys = [(r[0], r[1]) for r in got]
    assert len(keys) == len(set(keys)), "duplicate pair emitted"
    assert (1, 2) in keys  # the fixture really exercises multi-block


def test_ann_topk_lsh_rows_unique_without_distinct(spark):
    from scribe_js_spark.textops.similarity import ann_topk_lsh

    dim = 8
    base = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3]
    rows = []
    for i in range(30):
        v = list(base)
        v[i % dim] += (i // dim) * 0.01
        rows.append((i, v))
    df = _vecs(spark, rows)
    queries = df.filter(F.col("vec_id") < 3)
    got = ann_topk_lsh(df, queries, k=50, dim=dim, n_planes=4).collect()
    keyed = [(r["query_id"], r["neighbor_id"]) for r in got]
    assert len(keyed) == len(set(keyed)), "duplicate (query, neighbor)"
