"""The benchmark's workloads: set-up, one operation, and a Spark-free
reference that every operation's output is checked against.

Set-up (coverage polyfill, persisted inputs, coverage index) happens
before the timed loop; the reference is built from h3core kernels and
the scalar codecs, never from Spark, and compared outside the timed
interval.
"""

from __future__ import annotations

import time

import numpy as np

from . import inputs

N_POLYGONS = 60


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


class CoverageRef:
    """The collected coverage as sorted numpy arrays, probed per level."""

    def __init__(self, cells: np.ndarray, poly_ids: np.ndarray):
        from h3ronpy_spark.h3core import index as IDX

        order = np.argsort(cells, kind="stable")
        self.cells = cells[order]
        self.poly_ids = poly_ids[order]
        self.levels = sorted(int(r) for r in np.unique(IDX.get_resolution(self.cells)))

    def matches(self, cells: np.ndarray):
        """(row index, poly_id) for every (row, coverage cell) pair whose
        coverage cell is an ancestor-or-self of the row's cell."""
        from h3ronpy_spark.h3core import index as IDX

        res = IDX.get_resolution(cells)
        rows, polys = [], []
        for r in self.levels:
            sel = np.flatnonzero((res >= r) & (cells != -1))
            par = IDX.cell_to_parent(cells[sel], r)
            lo = np.searchsorted(self.cells, par, "left")
            hi = np.searchsorted(self.cells, par, "right")
            for k in np.flatnonzero(hi > lo):
                for j in range(lo[k], hi[k]):
                    rows.append(sel[k])
                    polys.append(self.poly_ids[j])
        return np.asarray(rows, dtype=np.int64), np.asarray(polys, dtype=object)


class Workload:
    """Base: a coverage of N_POLYGONS seeded polygons at `res`."""

    name = ""
    res = 0
    items_per_op = 0

    def __init__(self, spark, seed: int, slots: int):
        self.spark = spark
        self.seed = seed
        self.slots = slots
        self.ref = None
        self.cov = None

    def build_coverage(self) -> dict:
        """Polyfill the polygons into a persisted compact coverage."""
        from h3ronpy_spark.operators.spatial_join import polyfill_polygons

        self.polys = inputs.polygons_frame(self.spark, N_POLYGONS, self.seed)
        cov = (
            polyfill_polygons(self.polys, self.res, compact=True)
            .withColumnRenamed("cell", "__poly_cell")
            .persist()
        )
        self.coverage_rows, t = _timed(cov.count)
        self.cov = cov
        return {"spatial_join.polyfill_s": t}

    def coverage_ref(self) -> CoverageRef:
        pdf = self.cov.select("__poly_cell", "poly_id").toPandas()
        return CoverageRef(
            pdf["__poly_cell"].to_numpy(np.int64), pdf["poly_id"].to_numpy(object)
        )

    def spot_check_coverage(self, cref: CoverageRef, every: int = 20) -> None:
        """Recompute every `every`-th polygon's compact coverage with the
        h3core polyfill kernel and compare it with Spark's rows."""
        from h3ronpy_spark.h3core.polyfill import wkb_to_cells

        ids, wkbs = inputs.polygons(N_POLYGONS, self.seed)
        for pid, wkb in list(zip(ids, wkbs))[::every]:
            want = np.sort(wkb_to_cells(wkb, self.res, compact=True))
            got = np.sort(cref.cells[cref.poly_ids == pid])
            if not np.array_equal(want, got):
                raise AssertionError(f"coverage of {pid} differs from h3core polyfill")


class PipPoints(Workload):
    """Encode globe-uniform points at res 7..12, pip_join them with
    default arguments against a res-7 coverage, count per polygon."""

    name = "pip_points"
    res = 7
    items_per_op = 200_000

    def setup(self) -> dict:
        out = self.build_coverage()
        pts = inputs.points_frame(
            self.spark, self.items_per_op, self.seed, self.slots
        ).persist()
        _, out["inputs_s"] = _timed(pts.count)
        self.points = pts
        return out

    def plan(self):
        import h3ronpy_spark.functions as H
        from h3ronpy_spark.operators.spatial_join import pip_join
        from pyspark.sql import functions as F

        enc = self.points.select(
            "id", H.coordinates_to_cells("lat", "lng", "res").alias("cell")
        )
        return (
            pip_join(enc, self.polys, res=self.res, coverage=self.cov)
            .groupBy("poly_id")
            .agg(F.count("*").alias("n"))
        )

    def run(self):
        df = self.plan()
        return df, {r["poly_id"]: r["n"] for r in df.collect()}

    def build_reference(self) -> None:
        from h3ronpy_spark.h3core.latlng import latlng_to_cell

        cref = self.coverage_ref()
        self.spot_check_coverage(cref)
        lat, lng, res = inputs.points_from_ids(np.arange(self.items_per_op), self.seed)
        cells = latlng_to_cell(np.radians(lat), np.radians(lng), res.astype(np.int64))
        _, polys = cref.matches(cells)
        ids, counts = np.unique(polys.astype(str), return_counts=True)
        self.cref = cref
        self.ref = dict(zip(ids.tolist(), counts.tolist()))

    def check(self, df, out) -> None:
        if out != self.ref:
            raise AssertionError("pip_points counts differ from the reference")


class FlagshipSparse(Workload):
    """plans.flagship over raw8 images at res 9 against a 60-polygon
    coverage that fewer than 2% of the images meet."""

    name = "flagship_sparse"
    res = 9
    items_per_op = 600
    fmt = "raw8"

    def setup(self) -> dict:
        from h3ronpy_spark.operators.spatial_join import coverage_index

        out = self.build_coverage()
        _, out["spatial_join.index_build_s"] = _timed(
            lambda: coverage_index(self.spark, self.cov)
        )
        return out

    def plan(self):
        from h3ronpy_spark.plans.flagship import flagship

        return flagship(
            self.spark,
            n_images=self.items_per_op,
            n_polygons=N_POLYGONS,
            res=self.res,
            seed=self.seed,
            coverage=self.cov,
            fmt=self.fmt,
        )

    def run(self):
        df = self.plan()
        return df, {
            r["poly_id"]: (r["n_tiles"], r["n_images"], r["sum_px"], r["n_captions"])
            for r in df.collect()
        }

    def build_reference(self) -> None:
        from h3ronpy_spark.h3core.rasterh3 import rasters_to_cells_batch
        from h3ronpy_spark.sources.images import (
            PIXEL_DEG,
            decode_image,
            gen_images_pdf,
            georef_of_phash,
        )

        cref = self.coverage_ref()
        self.spot_check_coverage(cref)
        n = self.items_per_op
        pdf = gen_images_pdf(np.arange(n), self.seed)
        lat, lng = georef_of_phash(pdf["phash"].to_numpy(np.int64))
        bands = [
            decode_image(b, int(w), int(h), f)
            for b, w, h, f in zip(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])
        ]
        tfs = np.zeros((n, 6))
        tfs[:, 0], tfs[:, 2], tfs[:, 4], tfs[:, 5] = PIXEL_DEG, lng, -PIXEL_DEG, lat
        img, vals, cells = rasters_to_cells_batch(bands, tfs, self.res, nodata_value=0)
        rows, polys = cref.matches(cells)
        agg: dict = {}
        for r, p in zip(rows, polys):
            i = int(img[r])
            a = agg.setdefault(p, [0, set(), 0, set()])
            a[0] += 1
            a[1].add(i)
            a[2] += int(vals[r])
            a[3].add(pdf["caption"][i])
        self.cref = cref
        self.ref = {p: (a[0], len(a[1]), a[2], len(a[3])) for p, a in agg.items()}

    def check(self, df, out) -> None:
        from .sparkstats import plan_counts

        if out != self.ref:
            raise AssertionError("flagship rollup differs from the reference")
        pc = plan_counts(explain(df))
        if pc["joins"] != 0 or pc["python_stages"] != 1:
            raise AssertionError(f"flagship did not take the fused path: {pc}")


def explain(df) -> str:
    """explain("formatted") of a DataFrame, as a string."""
    return df.sparkSession.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


WORKLOADS = {w.name: w for w in (PipPoints, FlagshipSparse)}
