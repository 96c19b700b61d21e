"""On-disk layout of the index stores: the session writes zstd parquet,
bulk postings are written in (term, id) order, the ANN ``cells`` keep
the input vectors' own type, and the bulk shingle store holds one
sorted file per bucket."""

from __future__ import annotations

import datetime as dt
import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

SCHEMA = (
    "op string, row_key string, family string, qualifier string, "
    "value string, ts timestamp, seq long"
)

WORDS = (
    "apple banana carrot date egg fig grape honey ice jam kiwi lemon mango "
    "nut olive pear quince rice salt tea"
).split()


def _data_files(path: str) -> list[str]:
    return sorted(glob.glob(f"{path}/**/*.parquet", recursive=True))


def _codecs(path: str) -> set[str]:
    out = set()
    for f in _data_files(path):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            out |= {rg.column(c).compression for c in range(rg.num_columns)}
    return out


def _text(i: int, n: int = 12) -> str:
    return " ".join(WORDS[(i * 7 + j * j * 3 + j) % len(WORDS)] for j in range(n))


def _docs(spark, n: int = 200):
    return spark.createDataFrame([(i, _text(i)) for i in range(n)], "id long, text string")


def test_bulk_postings_are_zstd_and_term_sorted(spark, tmp_path):
    from hbase_increment_index_spark.search.inverted import build_inverted_index

    path = str(tmp_path / "postings")
    build_inverted_index(_docs(spark), "id", "text").write.parquet(path)
    files = _data_files(path)
    assert len(files) > 1
    assert _codecs(path) == {"ZSTD"}
    rows = 0
    for f in files:
        t = pq.read_table(f, columns=["term", "id"])
        keys = list(zip(t.column("term").to_pylist(), t.column("id").to_pylist()))
        assert keys == sorted(keys), f
        rows += len(keys)
    assert rows == spark.read.parquet(path).count()


def test_fold_commits_are_zstd(spark, tmp_path):
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    def ts(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    b1 = [
        ("put", f"r{i}", "cf", "name", _text(i, 5), ts(1), i) for i in range(20)
    ]
    b2 = [
        ("put", "r1", "cf", "name", "apple tart", ts(10), 100),
        ("delete", "r2", "cf", None, None, ts(11), 101),
        ("put", "r99", "cf", "name", "egg tart", ts(12), 102),
    ]
    index_path = str(tmp_path / "index")
    for i, b in enumerate((b1, b2)):
        merge_microbatch(
            spark, spark.createDataFrame(b, SCHEMA), i, index_path, ["name"],
            postings_field="name",
        )
    stores = [index_path + s for s in ("", "_state", "_postings")]
    for s in stores:
        assert _data_files(s), s
        assert _codecs(s) == {"ZSTD"}, s


def _embeddings(spark, vec_type: str, n: int = 60, dim: int = 8):
    rows = []
    for i in range(n):
        lab = i % 3
        vec = [
            (1.0 if d % 3 == lab else 0.1) + ((i * 31 + d * 7) % 11 - 5) / 97.0
            for d in range(dim)
        ]
        rows.append((i, vec, lab))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    return df.withColumn("embedding", F.col("embedding").cast(vec_type))


def _served(spark, emb, path: str):
    from hbase_increment_index_spark.pipeline.similarity import (
        build_ivf_pq,
        knn_ivf_pq_serve,
    )

    cen, cb, cells, codes = build_ivf_pq(emb, dim=8, m=4, seed_ids=list(range(6)))
    cells.write.partitionBy("cid").parquet(f"{path}/cells")
    codes.write.partitionBy("cid").parquet(f"{path}/codes")
    stored = spark.read.parquet(f"{path}/cells")
    q = [1.0, 0.1, 0.1, 1.0, 0.1, 0.1, 1.0, 0.1]
    out = knn_ivf_pq_serve(
        cen, cb, stored, spark.read.parquet(f"{path}/codes"), q,
        k=8, n_probe=2, shortlist=30, m=4,
    ).collect()
    return stored.schema["embedding"].dataType.simpleString(), [
        (r["vec_id"], r["score"]) for r in out
    ]


def test_ivf_cells_keep_the_input_vector_type(spark, tmp_path):
    emb32 = _embeddings(spark, "array<float>")
    # the same float32 values, widened exactly to doubles
    emb64 = emb32.withColumn("embedding", F.col("embedding").cast("array<double>"))
    t32, got32 = _served(spark, emb32, str(tmp_path / "f32"))
    t64, got64 = _served(spark, emb64, str(tmp_path / "f64"))
    assert (t32, t64) == ("array<float>", "array<double>")
    assert len(got32) == 8
    assert got32 == got64


def test_shingle_store_has_one_sorted_file_per_bucket(spark, tmp_path):
    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        write_shingle_store,
    )

    path = str(tmp_path / "shingles")
    postings = build_shingle_postings(_docs(spark), "id", "text", n=3)
    write_shingle_store(postings, path)
    buckets = sorted(glob.glob(f"{path}/shb=*"))
    assert len(buckets) > 1
    rows = 0
    for b in buckets:
        files = _data_files(b)
        assert len(files) == 1, b
        t = pq.read_table(files[0], columns=["sh", "doc"])
        keys = list(zip(t.column("sh").to_pylist(), t.column("doc").to_pylist()))
        assert keys == sorted(keys), b
        rows += len(keys)
    assert rows == postings.count() == spark.read.parquet(path).count()
