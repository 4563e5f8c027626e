"""Per-layer metrics of a traced run.

Every number is taken from outside the engine: by timing calls into a
layer's public functions (h3core kernels, sources codecs, the functions
UDFs, the spatial_join and tiling operators, plans.flagship), from the
Spark event log of the tagged operations, and from their physical plans.
Each metric is reported on every workload, measured on that workload's
own coverage and resolution.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np

from . import inputs
from .sparkstats import eventlog_totals, plan_counts
from .workloads import N_POLYGONS, explain

N_POINTS = 200_000
N_IMAGES = 500
REPS = 3


def _median_time(fn, reps: int = REPS) -> float:
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _spark_metrics(spark, events_dir, traced_ops, slots) -> dict:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    lines = []
    for path in sorted(glob.glob(os.path.join(events_dir, "*"))):
        with open(path) as f:
            lines.extend(f)
    tags = [t for t, _, _ in traced_ops]
    per_tag = eventlog_totals(lines, tags)
    out = {}
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "jvm_gc_s", "shuffle_write_bytes", "result_bytes"):
        out[f"spark.{key}"] = statistics.median(per_tag[t][key] for t in tags)
    out["spark.slot_busy_ratio"] = statistics.median(
        per_tag[t]["executor_run_s"] / (lat * slots) for t, lat, _ in traced_ops
    )
    return out


def _h3core(wl, lat, lng, res) -> dict:
    from h3ronpy_spark.h3core import index as IDX
    from h3ronpy_spark.h3core.latlng import latlng_to_cell
    from h3ronpy_spark.h3core.polyfill import wkb_to_cells
    from h3ronpy_spark.h3core.rasterh3 import rasters_to_cells_batch
    from h3ronpy_spark.sources.images import (
        PIXEL_DEG,
        decode_image,
        gen_images_pdf,
        georef_of_phash,
    )

    out = {}
    la, lo, rs = np.radians(lat), np.radians(lng), res.astype(np.int64)
    out["h3core.encode_ns_per_point"] = (
        _median_time(lambda: latlng_to_cell(la, lo, rs)) / lat.size * 1e9
    )
    cells = latlng_to_cell(la, lo, rs)
    out["h3core.parent_ns_per_cell"] = (
        _median_time(lambda: IDX.cell_to_parent(cells, wl.res)) / cells.size * 1e9
    )
    pdf = gen_images_pdf(np.arange(N_IMAGES), wl.seed)
    bands = [
        decode_image(b, int(w), int(h), f)
        for b, w, h, f in zip(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])
    ]
    ilat, ilng = georef_of_phash(pdf["phash"].to_numpy(np.int64))
    tfs = np.zeros((N_IMAGES, 6))
    tfs[:, 0], tfs[:, 2], tfs[:, 4], tfs[:, 5] = PIXEL_DEG, ilng, -PIXEL_DEG, ilat
    out["h3core.tile_us_per_img"] = (
        _median_time(lambda: rasters_to_cells_batch(bands, tfs, wl.res, nodata_value=0))
        / N_IMAGES * 1e6
    )
    _, _, tcells = rasters_to_cells_batch(bands, tfs, wl.res, nodata_value=0)
    out["h3core.tiles_per_img"] = tcells.size / N_IMAGES
    _, wkbs = inputs.polygons(N_POLYGONS, wl.seed)
    sample = wkbs[::20]
    out["h3core.polyfill_ms_per_poly"] = (
        _median_time(lambda: [wkb_to_cells(w, wl.res, compact=True) for w in sample], 1)
        / len(sample) * 1e3
    )
    return out


def _sources(wl) -> dict:
    from h3ronpy_spark.sources.images import (
        batch_codec_snapshot,
        codec_snapshot,
        decode_images_with,
        gen_images_jpeg_pdf,
        gen_images_pdf,
    )
    from h3ronpy_spark.sources.jpeg import register_jpeg_codec

    ids = np.arange(N_IMAGES)
    out = {
        "sources.generate_us_per_img": _median_time(lambda: gen_images_pdf(ids, wl.seed))
        / N_IMAGES * 1e6
    }
    # decode is a reshape for raw8; the layer's cost is measured on the
    # JPEG twin of the same images, through the registered batch codec
    register_jpeg_codec()
    jp = gen_images_jpeg_pdf(ids, wl.seed)
    codecs, batch = codec_snapshot(), batch_codec_snapshot()
    blobs, ws, hs, fmts = jp["bytes"].tolist(), jp["w"].to_numpy(), jp["h"].to_numpy(), jp["fmt"].tolist()
    out["sources.decode_us_per_img"] = (
        _median_time(lambda: decode_images_with(codecs, batch, blobs, ws, hs, fmts))
        / N_IMAGES * 1e6
    )
    return out


def measure(wl, tracer, events_dir, traced_ops, untraced_lat, setup_parts,
            session_s, rss) -> dict:
    """All per-layer metrics of workload `wl` as {name: (value, unit)}."""
    import h3ronpy_spark.functions as H
    from h3ronpy_spark.operators.spatial_join import coverage_index, pip_join
    from h3ronpy_spark.operators.tiling import tile_images
    from h3ronpy_spark.plans.flagship import flagship
    from h3ronpy_spark.sources.images import synth_images
    from pyspark.sql import functions as F

    spark, slots, seed = wl.spark, wl.slots, wl.seed
    m: dict[str, float] = {"session.start_s": session_s}
    with tracer.span("layers.spark_eventlog"):
        m.update(_spark_metrics(spark, events_dir, traced_ops, slots))
    with tracer.span("layers.plan"):
        df = traced_ops[0][2][0]
        m.update({f"plan.{k}": v for k, v in plan_counts(explain(df)).items()})

    lat, lng, res = inputs.points_from_ids(np.arange(N_POINTS), seed)
    with tracer.span("layers.h3core"):
        m.update(_h3core(wl, lat, lng, res))
    with tracer.span("layers.sources"):
        m.update(_sources(wl))

    with tracer.span("layers.functions"):
        pts = inputs.points_frame(spark, N_POINTS, seed, slots).persist()
        pts.count()
        enc = pts.select("id", H.coordinates_to_cells("lat", "lng", "res").alias("cell"))
        m["functions.encode_s"] = _median_time(lambda: _noop(enc))
        kernel_wall = N_POINTS * m["h3core.encode_ns_per_point"] / 1e9 / slots
        m["functions.boundary_share"] = max(0.0, 1.0 - kernel_wall / m["functions.encode_s"])

    with tracer.span("layers.tiling"):
        images = synth_images(spark, N_IMAGES, seed=seed, partitions=slots)
        tiles_df = tile_images(images, res=wl.res, nodata=0).drop("caption")
        m["tiling.tile_images_s"] = _median_time(lambda: _noop(tiles_df))
        tiles = tiles_df.persist()
        m["tiling.tiles_out"] = tiles.count()

    with tracer.span("layers.spatial_join"):
        m["spatial_join.polyfill_s"] = setup_parts["spatial_join.polyfill_s"]
        if "spatial_join.index_build_s" in setup_parts:
            m["spatial_join.index_build_s"] = setup_parts["spatial_join.index_build_s"]
        else:
            t = time.perf_counter()
            coverage_index(spark, wl.cov)
            m["spatial_join.index_build_s"] = time.perf_counter() - t
        m["spatial_join.coverage_rows"] = wl.coverage_rows
        m["spatial_join.coverage_levels"] = len(wl.cref.levels)
        probe = enc.persist() if wl.name == "pip_points" else tiles
        m["spatial_join.probe_rows"] = probe.count()
        joined = pip_join(probe, wl.polys, res=wl.res, coverage=wl.cov)
        m["spatial_join.join_s"] = _median_time(lambda: _noop(joined))
        m["spatial_join.matched_rows"] = joined.count()
        m["spatial_join.hit_ratio"] = m["spatial_join.matched_rows"] / max(m["spatial_join.probe_rows"], 1)

    with tracer.span("layers.flagship"):
        def fl():
            # a new plan each time: collecting one DataFrame again would
            # reuse its shuffle output and skip the map stage
            return flagship(spark, n_images=N_IMAGES, n_polygons=N_POLYGONS,
                            res=wl.res, seed=seed, coverage=wl.cov, fmt="raw8")

        m["flagship.run_s"] = _median_time(lambda: fl().collect())
        m["flagship.joined_tiles"] = fl().agg(F.sum("n_tiles")).first()[0] or 0
        tile_hits = pip_join(tiles, wl.polys, res=wl.res, coverage=wl.cov)
        m["flagship.images_matched"] = tile_hits.select("image_id").distinct().count()
        m["flagship.useful_image_ratio"] = m["flagship.images_matched"] / N_IMAGES

    for df in (pts, tiles, probe):
        df.unpersist()
    m["rss.driver_py_peak_mb"] = rss["driver_py"]
    m["rss.jvm_peak_mb"] = rss["jvm"]
    m["rss.python_workers_peak_mb"] = rss["python_workers"]
    m["trace.overhead_ratio"] = (
        statistics.median(lat for _, lat, _ in traced_ops) / statistics.median(untraced_lat)
    )
    return {k: (v, UNITS[k]) for k, v in m.items()}


def _unit(name: str) -> str:
    for suffix, unit in (
        ("_ns_per_point", "ns"), ("_ns_per_cell", "ns"), ("_us_per_img", "us"),
        ("_ms_per_poly", "ms"), ("_mb", "MB"), ("_bytes", "B"), ("_s", "s"),
        ("_ratio", "ratio"), ("_share", "ratio"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


NAMES = [
    "session.start_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.jvm_gc_s", "spark.shuffle_write_bytes",
    "spark.result_bytes", "spark.slot_busy_ratio",
    "plan.nodes", "plan.joins", "plan.exchanges", "plan.python_stages",
    "h3core.encode_ns_per_point", "h3core.parent_ns_per_cell",
    "h3core.tile_us_per_img", "h3core.tiles_per_img", "h3core.polyfill_ms_per_poly",
    "sources.generate_us_per_img", "sources.decode_us_per_img",
    "functions.encode_s", "functions.boundary_share",
    "spatial_join.polyfill_s", "spatial_join.index_build_s", "spatial_join.join_s",
    "spatial_join.coverage_rows", "spatial_join.coverage_levels",
    "spatial_join.probe_rows", "spatial_join.matched_rows", "spatial_join.hit_ratio",
    "tiling.tile_images_s", "tiling.tiles_out",
    "flagship.run_s", "flagship.joined_tiles", "flagship.images_matched",
    "flagship.useful_image_ratio",
    "rss.driver_py_peak_mb", "rss.jvm_peak_mb", "rss.python_workers_peak_mb",
    "trace.overhead_ratio",
]
UNITS = {n: _unit(n) for n in NAMES}
