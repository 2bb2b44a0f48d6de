"""Embedding-dimension guards: a ragged centroid dim must fail loudly in
the in-array Lloyd step, and the driver-side dim peek must skip null
leading rows rather than report no dim."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from climateiq_pipelines_spark.functions.fixedpoint import lloyd_assign_cols
from climateiq_pipelines_spark.registry import parquet_first_array_len, table_path


def _assign(spark, embedding, carrs):
    vecs = spark.createDataFrame(
        [(0, embedding)], "vec_id long, embedding array<float>"
    )
    cents = spark.createDataFrame(
        [([(c_id, carr) for c_id, carr in enumerate(carrs)],)],
        "cents array<struct<c_id: long, carr: array<double>>>",
    )
    cluster, dist = lloyd_assign_cols()
    return vecs.crossJoin(cents).select(cluster, dist).collect()


def test_lloyd_assign_scores_matching_dims(spark):
    (row,) = _assign(spark, [1.0, 2.0], [[1.0, 2.0], [0.0, 0.0]])
    assert (row["cluster"], row["dist_fp"]) == (0, 0)


@pytest.mark.parametrize(
    "carrs",
    [
        [[1.0, 2.0], [0.0]],  # a centroid shorter than the vector
        [[1.0, 2.0, 3.0], [1.0, 2.0]],  # a centroid longer than it
    ],
)
def test_lloyd_assign_rejects_ragged_centroid_dims(spark, carrs):
    with pytest.raises(Exception, match="dims but the embedding has 2"):
        _assign(spark, [1.0, 2.0], carrs)


def test_parquet_first_array_len_skips_null_rows(tmp_path):
    sf_dir = str(tmp_path)
    table = pa.table(
        {"embedding": pa.array([None, None, [0.5, 1.5, 2.5]], pa.list_(pa.float32()))}
    )
    pq.write_table(table, table_path(sf_dir, "embeddings"))
    assert parquet_first_array_len(sf_dir, "embeddings", "embedding") == 3


def test_parquet_first_array_len_all_null_or_missing(tmp_path):
    sf_dir = str(tmp_path)
    assert parquet_first_array_len(sf_dir, "embeddings", "embedding") is None
    table = pa.table({"embedding": pa.array([None], pa.list_(pa.float32()))})
    pq.write_table(table, table_path(sf_dir, "embeddings"))
    assert parquet_first_array_len(sf_dir, "embeddings", "embedding") is None
