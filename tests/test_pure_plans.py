"""Textops operators are pure plans: building and collecting one leaves
no persisted data in the session, and the scale-adaptive input spread
only ever adds a round-robin repartition to a small input."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again"),
    (2, "the quick brown fox jumps over the lazy dog again"),
    (3, "the quick brown fox jumps over the lazy cat again"),
    (4, "an entirely different sentence about parquet files"),
    (5, ""),
    (6, None),
]


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _image_df(spark):
    from scribe_js_spark.textops.jpeg import encode_jpeg_gray
    from scribe_js_spark.textops.multimodal import encode_png_gray

    # smooth low-frequency field: a JPEG re-encode keeps its pHash
    rng = np.random.RandomState(2)
    img = np.kron(rng.rand(6, 8), np.ones((8, 8)))
    img = (img * 255).astype(np.uint8)
    rows = [
        (1, encode_png_gray(img)),
        (2, encode_jpeg_gray(img)),
        (3, b"not an image"),
    ]
    return spark.createDataFrame(rows, ["media_id", "data"])


def _vec_df(spark):
    base = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.1, 0.3]
    rows = []
    for i in range(24):
        v = list(base)
        v[i % 8] += (i // 8) * 2.5
        v[(i + 3) % 8] -= (i % 5) * 1.5
        rows.append((i, v))
    return spark.createDataFrame(rows, StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]))


def test_operators_leave_no_persisted_state(spark):
    from scribe_js_spark.textops import similarity as S
    from scribe_js_spark.textops.dedup import (
        exact_dups,
        jaccard_for_pairs,
        minhash_lsh_pairs,
        simhash_candidates,
    )
    from scribe_js_spark.textops.imagehash import image_near_dups

    spark.catalog.clearCache()
    assert _persisted(spark) == 0
    docs = spark.createDataFrame(DOCS, StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]))
    vecs = _vec_df(spark)
    queries = vecs.filter(F.col("vec_id") < 3)
    vkw = dict(dim=8, n_planes=4)

    ops = {
        "exact_dups": lambda: exact_dups(docs),
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(docs),
        "minhash_lsh_pairs capped": lambda: minhash_lsh_pairs(
            docs, max_bucket_size=10),
        "jaccard_for_pairs": lambda: jaccard_for_pairs(
            docs, minhash_lsh_pairs(docs), threshold=0.5),
        "simhash_candidates": lambda: simhash_candidates(docs),
        "simhash_candidates capped": lambda: simhash_candidates(
            docs, max_bucket_size=10),
        "image_near_dups": lambda: image_near_dups(_image_df(spark)),
        "embedding_near_dups": lambda: S.embedding_near_dups(
            vecs, threshold=0.5, **vkw),
        "ann_topk_bruteforce": lambda: S.ann_topk_bruteforce(
            vecs, queries, k=3),
        "ann_topk_lsh": lambda: S.ann_topk_lsh(vecs, queries, k=3, **vkw),
        "ann_topk_ivf": lambda: S.ann_topk_ivf(
            vecs, queries, k=3, dim=8, n_planes_coarse=2),
    }
    for name, build in ops.items():
        rows = build().collect()
        assert _persisted(spark) == 0, f"{name} left persisted RDDs"
        assert rows, f"{name} fixture produced no rows"


def _one_row_group(spark, tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "one.parquet")
    (spark.range(2000)
     .selectExpr("id", "id * 3 AS x", "repeat('p', 20) AS pad")
     .coalesce(1).write.parquet(path))
    files = [f for f in (tmp_path / "one.parquet").iterdir()
             if f.name.endswith(".parquet")]
    assert len(files) == 1
    assert pq.ParquetFile(str(files[0])).num_row_groups == 1
    return spark.read.parquet(path)


def _plan(df, stage: str) -> str:
    return getattr(df._jdf.queryExecution(), stage)().toString()


def test_spread_input_repartitions_small_single_row_group(spark, tmp_path):
    from scribe_js_spark.textops.partitioning import (
        SPREAD_MAX_BYTES,
        _estimated_bytes,
        spread_input,
    )

    df = _one_row_group(spark, tmp_path)
    assert df.rdd.getNumPartitions() == 1
    assert _estimated_bytes(df.select("id", "x")) < SPREAD_MAX_BYTES
    out = spread_input(df, ["id", "x"])
    assert out.columns == ["id", "x"]
    target = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({target})" in _plan(out, "executedPlan")
    assert out.rdd.getNumPartitions() == target
    assert sorted(out.collect()) == sorted(df.select("id", "x").collect())


def test_spread_input_leaves_large_input_unchanged(
        spark, tmp_path, monkeypatch):
    from scribe_js_spark.textops import partitioning

    df = _one_row_group(spark, tmp_path)
    ref = df.select("id", "x")
    size = partitioning._estimated_bytes(ref)
    for limit in (size, 1):  # estimate at, then above, the constant
        monkeypatch.setattr(partitioning, "SPREAD_MAX_BYTES", limit)
        out = partitioning.spread_input(df, ["id", "x"])
        assert out.columns == ["id", "x"]
        assert _plan(out, "optimizedPlan") == _plan(ref, "optimizedPlan")
        assert "Exchange" not in _plan(out, "executedPlan")


def test_embedding_near_dups_builds_a_lazy_plan(spark, tmp_path):
    """Building embedding_near_dups runs no Spark job and plans no
    Python stage, also for a mid-size input (estimate in [2 MB, 64 MB))
    small enough that collecting its vectors to the driver would be
    tempting."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scribe_js_spark.textops.partitioning import _estimated_bytes
    from scribe_js_spark.textops.similarity import embedding_near_dups

    n, dim = 9000, 64
    vecs = np.random.RandomState(3).standard_normal((n, dim))
    path = str(tmp_path / "vecs.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), dim).cast(
                pa.list_(pa.float32())),
    }), path)
    df = spark.read.parquet(path)
    assert 2 << 20 < _estimated_bytes(df) < 64 << 20

    sc = spark.sparkContext
    group = "test-embedding-near-dups-build"
    sc.setJobGroup(group, "embedding_near_dups construction")
    try:
        out = embedding_near_dups(df, threshold=0.9)
        plan = _plan(out, "executedPlan")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert "MapInArrow" not in plan
