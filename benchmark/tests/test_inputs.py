"""Benchmark inputs depend only on (row id, seed), never on how Spark
splits the rows."""

import numpy as np

from benchmark import inputs


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_points_same_at_two_partition_counts(spark):
    a = _rows(inputs.points_frame(spark, 5000, seed=7, partitions=2))
    b = _rows(inputs.points_frame(spark, 5000, seed=7, partitions=4))
    assert a == b
    assert len(a) == 5000


def test_points_are_row_local_and_seeded():
    ids = np.arange(1000)
    whole = inputs.points_from_ids(ids, 5)
    part = inputs.points_from_ids(ids[500:], 5)
    for w, p in zip(whole, part):
        assert np.array_equal(w[500:], p)
    other = inputs.points_from_ids(ids, 6)
    assert not np.array_equal(whole[0], other[0])
    lat, lng, res = whole
    assert lat.min() >= -90 and lat.max() <= 90
    assert lng.min() >= -180 and lng.max() < 180
    assert set(np.unique(res)) == set(range(7, 13))


def test_images_same_at_two_partition_counts(spark):
    from h3ronpy_spark.sources.images import synth_images

    def rows(parts):
        df = synth_images(spark, 300, seed=7, partitions=parts)
        return sorted((r.image_id, r.phash, bytes(r.bytes)) for r in df.collect())

    assert rows(2) == rows(4)


def test_polygons_are_seeded():
    assert inputs.polygons(10, 3) == inputs.polygons(10, 3)
    assert inputs.polygons(10, 3)[1] != inputs.polygons(10, 4)[1]
