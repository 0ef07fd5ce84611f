"""Interpolation tests mirroring ``tests/test_interpolation.py`` (all
methods leave no missing values; FIXTURES.md F1b null layout: head, middle,
tail) plus value-level checks for linear/nearest/mean semantics."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from orange3_timeseries_spark.frame import TimeSeriesFrame
from orange3_timeseries_spark.operators.interpolate import (
    interpolate_timeseries,
    natural_cubic_interp,
)

from conftest import approx_rows


def _frame(spark, values, times=None):
    n = len(values)
    if times is None:
        times = [dt.datetime(2000, 1, 1) + dt.timedelta(days=i)
                 for i in range(n)]
    rows = [(t, None if v is None else float(v))
            for t, v in zip(times, values)]
    df = spark.createDataFrame(rows, "t timestamp, x double")
    return TimeSeriesFrame(df, time_col="t")


# F1b layout: nulls at head (0-1), middle (10-14), tail (last 2)
F1B = [None, None] + [float(i) for i in range(2, 10)] \
    + [None] * 5 + [float(i) for i in range(15, 22)] + [None, None]


@pytest.mark.parametrize("method", ["linear", "cubic", "nearest", "mean"])
def test_no_nans_remain(spark, method):
    tsf = _frame(spark, F1B)
    out = interpolate_timeseries(tsf, method)
    rows = [r["x"] for r in out.df.collect()]
    assert all(v is not None and v == v for v in rows), (method, rows)


def test_linear_values(spark):
    tsf = _frame(spark, [None, 1.0, None, None, 7.0, None])
    out = interpolate_timeseries(tsf, "linear")
    vals = [r["x"] for r in out.df.orderBy("t").collect()]
    # edges clamp (functions.py:341), interior linear on the day-spaced axis
    approx_rows(vals, [1.0, 1.0, 3.0, 5.0, 7.0, 7.0])


def test_linear_exact_at_epoch_scale(spark):
    # 2023 timestamps with microsecond gaps: as double epoch seconds the
    # fill comes out 26.683044487 (sixth decimal off); on integer
    # microseconds it matches the exact 26.683044506411452
    times = [dt.datetime(2023, 11, 22, 4, 10, 46, 425955),
             dt.datetime(2023, 11, 22, 4, 14, 23, 474105),
             dt.datetime(2023, 11, 22, 4, 30, 16, 153109)]
    out = interpolate_timeseries(_frame(spark, [3.01, None, 130.59], times),
                                 "linear")
    vals = [r["x"] for r in out.df.orderBy("t").collect()]
    assert abs(vals[1] - 26.683044506411452) < 1e-9
    assert round(vals[1], 6) == 26.683045


def test_nearest_tie_prefers_previous(spark):
    # equidistant gap: scipy kind='nearest' rounds down
    tsf = _frame(spark, [2.0, None, 8.0])
    out = interpolate_timeseries(tsf, "nearest")
    vals = [r["x"] for r in out.df.orderBy("t").collect()]
    approx_rows(vals, [2.0, 2.0, 8.0])


def test_mean_fill(spark):
    tsf = _frame(spark, [1.0, None, 5.0, None])
    out = interpolate_timeseries(tsf, "mean")
    vals = [r["x"] for r in out.df.orderBy("t").collect()]
    approx_rows(vals, [1.0, 3.0, 5.0, 3.0])


def test_single_defined_left_alone(spark):
    # <2 defined values: column untouched (functions.py:326)
    tsf = _frame(spark, [None, 4.0, None])
    out = interpolate_timeseries(tsf, "linear")
    vals = [r["x"] for r in out.df.orderBy("t").collect()]
    assert vals[0] is None and vals[2] is None and vals[1] == 4.0


def test_discrete_mode_fill(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2000, 1, 1 + i), v)
         for i, v in enumerate(["a", "b", None, "b", "a", "b"])],
        "t timestamp, d string")
    tsf = TimeSeriesFrame(df, time_col="t")
    out = interpolate_timeseries(tsf, "linear")
    vals = [r["d"] for r in out.df.orderBy("t").collect()]
    assert vals == ["a", "b", "b", "b", "a", "b"]


def test_discrete_nearest_fill(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2000, 1, 1 + i), v)
         for i, v in enumerate([None, "a", "a", None, None, "c"])],
        "t timestamp, d string")
    tsf = TimeSeriesFrame(df, time_col="t")
    out = interpolate_timeseries(tsf, "nearest")
    vals = [r["d"] for r in out.df.orderBy("t").collect()]
    assert vals == ["a", "a", "a", "a", "c", "c"]


def test_cubic_matches_numpy_reference(spark):
    # spline through sin samples: interpolated points close to the curve
    xs = np.arange(0, 20, dtype=float)
    ys = np.sin(xs / 3.0)
    holes = [3, 7, 12]
    vals = [None if i in holes else ys[i] for i in range(20)]
    tsf = _frame(spark, vals)
    out = interpolate_timeseries(tsf, "cubic")
    got = [r["x"] for r in out.df.orderBy("t").collect()]
    for i in holes:
        assert abs(got[i] - ys[i]) < 0.01, (i, got[i], ys[i])


def test_natural_cubic_interp_exact_on_line():
    x = np.array([0.0, 1, 2, 3, 4])
    y = 2 * x + 1
    xq = np.array([0.5, 1.5, 3.5])
    np.testing.assert_allclose(natural_cubic_interp(x, y, xq),
                               2 * xq + 1, atol=1e-12)


def test_per_series_interpolation(spark):
    rows = []
    for uid in (1, 2):
        base = float(uid * 10)
        series = [base, None, base + 2]
        for i, v in enumerate(series):
            rows.append((uid, dt.datetime(2000, 1, 1 + i), v))
    df = spark.createDataFrame(rows, "uid int, t timestamp, x double")
    tsf = TimeSeriesFrame(df, time_col="t", series_cols=["uid"])
    out = interpolate_timeseries(tsf, "linear")
    got = {(r["uid"], r["t"].day): r["x"]
           for r in out.df.collect()}
    assert got[(1, 2)] == pytest.approx(11.0)
    assert got[(2, 2)] == pytest.approx(21.0)


class TestMultivariateNearest:
    def test_nearest_cell_in_index_space(self, spark):
        from orange3_timeseries_spark.frame import TimeSeriesFrame
        from orange3_timeseries_spark.operators.interpolate import (
            interpolate_timeseries,
        )

        # 4 rows x 3 value cols; NaN at (1, b): nearest defined cells at
        # distance 1 are (0,b)=10.0 and (1,a)=2.0 and (1,c)=200.0 ... the
        # tie resolves to the first in row-major nonzero order: (0,b)
        rows = [
            (0, 1.0, 10.0, 100.0),
            (1, 2.0, None, 200.0),
            (2, 3.0, 30.0, None),
            (3, 4.0, 40.0, 400.0),
        ]
        df = spark.createDataFrame(rows, "t long, a double, b double, c double")
        tsf = TimeSeriesFrame(df, time_col=None,
                              series_cols=[]).with_row_index(["t"])
        out = interpolate_timeseries(tsf, "nearest", multivariate=True,
                                     cols=["a", "b", "c"])
        got = {r["t"]: (r["a"], r["b"], r["c"])
               for r in out.df.collect()}
        assert got[1][1] == 10.0   # (1,b) <- (0,b)
        assert got[2][2] == 200.0  # (2,c) <- (1,c)
        # defined cells untouched
        assert got[0] == (1.0, 10.0, 100.0)
        assert got[3] == (4.0, 40.0, 400.0)

    def test_multivariate_cubic_fills_planar_exactly(self, spark):
        """Clough-Tocher pre-pass (functions.py:311-316 method
        passthrough): a planar matrix with interior NaNs is recovered
        exactly (CT reproduces linear fields), nothing stays NaN."""
        from orange3_timeseries_spark.frame import TimeSeriesFrame
        from orange3_timeseries_spark.operators.interpolate import (
            interpolate_timeseries,
        )

        def plane(i, j):
            return 2.0 * i - 3.0 * j + 5.0

        rows = []
        for i in range(8):
            vals = [plane(i, j) for j in range(4)]
            if i == 3:
                vals[1] = None
            if i == 5:
                vals[2] = None
            rows.append((i, *vals))
        df = spark.createDataFrame(
            rows, "t long, a double, b double, c double, d double")
        tsf = TimeSeriesFrame(df, time_col=None,
                              series_cols=[]).with_row_index(["t"])
        out = interpolate_timeseries(tsf, "cubic", multivariate=True,
                                     cols=["a", "b", "c", "d"])
        got = {r["t"]: (r["a"], r["b"], r["c"], r["d"])
               for r in out.df.collect()}
        for i in range(8):
            for j in range(4):
                assert got[i][j] == pytest.approx(plane(i, j), abs=1e-8), \
                    (i, j)


class TestGriddataCubic:
    """Scipy-free Clough-Tocher (reference functions.py:311-316 cubic
    passthrough).  Triangulation-independent invariants: exact on linear
    fields, exact quadratic reproduction given exact gradients (the
    defining reduced-HCT property), node interpolation, NaN outside the
    hull."""

    def test_linear_field_exact(self):
        import numpy as np

        from orange3_timeseries_spark.functions._griddata import (
            griddata_cubic,
        )

        rng = np.random.RandomState(3)
        pts = rng.uniform(0, 10, size=(60, 2))
        vals = 2.0 * pts[:, 0] - 3.0 * pts[:, 1] + 5.0
        q = rng.uniform(2, 8, size=(40, 2))
        got = griddata_cubic(pts, vals, q)
        want = 2.0 * q[:, 0] - 3.0 * q[:, 1] + 5.0
        assert np.allclose(got, want, atol=1e-8)

    def test_quadratic_exact_with_exact_gradients(self):
        import numpy as np

        from orange3_timeseries_spark.functions._griddata import (
            _bezier3,
            _ct_controls,
        )

        P = np.array([[0.0, 0.0], [2.0, 0.3], [0.7, 1.9]])

        def fq(x, y):
            return 1 + 2 * x - y + 0.5 * x * x + 0.3 * x * y - 0.7 * y * y

        def gq(x, y):
            return np.array([2 + x + 0.3 * y, -1 + 0.3 * x - 1.4 * y])

        f = np.array([fq(*p) for p in P])
        g = np.array([gq(*p) for p in P])
        A, B, D = _ct_controls(P, f, g)
        rng = np.random.RandomState(7)
        for _ in range(100):
            lam = rng.dirichlet([1.0, 1.0, 1.0])
            qx, qy = lam @ P
            s = int(lam.argmin())
            patch, (i, j) = {2: (A, (0, 1)), 0: (B, (1, 2)),
                             1: (D, (2, 0))}[s]
            v = _bezier3(patch, lam[i] - lam[s], lam[j] - lam[s],
                         3 * lam[s])
            assert v == pytest.approx(fq(qx, qy), abs=1e-9)

    def test_node_interpolation_and_hull(self):
        import numpy as np

        from orange3_timeseries_spark.functions._griddata import (
            griddata_cubic,
        )

        rng = np.random.RandomState(11)
        pts = rng.uniform(0, 10, size=(40, 2))
        vals = np.sin(pts[:, 0]) + pts[:, 1] ** 2 / 20.0
        got = griddata_cubic(pts, vals, pts)
        inside = ~np.isnan(got)
        assert inside.sum() >= 38  # hull-boundary float slack
        assert np.allclose(got[inside], vals[inside], atol=1e-9)
        far = griddata_cubic(pts, vals, np.array([[100.0, 100.0]]))
        assert np.isnan(far[0])


class TestMultivariateLinear:
    """Scipy-free griddata-linear pre-pass (reference functions.py:301-318).

    Triangulation-independent invariants: ANY Delaunay triangulation
    reproduces a planar field exactly, keeps interpolants inside the data
    hull's value bounds, and leaves defined cells untouched."""

    def test_plane_reproduction_numpy(self):
        import numpy as np

        from orange3_timeseries_spark.functions._griddata import (
            griddata_linear,
        )

        rng = np.random.RandomState(3)
        pts = rng.uniform(0, 10, size=(60, 2))
        vals = 2.0 * pts[:, 0] - 3.0 * pts[:, 1] + 5.0
        q = rng.uniform(2, 8, size=(40, 2))  # well inside the hull
        got = griddata_linear(pts, vals, q)
        want = 2.0 * q[:, 0] - 3.0 * q[:, 1] + 5.0
        assert np.allclose(got, want, atol=1e-8)

    def test_outside_hull_is_nan(self):
        import numpy as np

        from orange3_timeseries_spark.functions._griddata import (
            griddata_linear,
        )

        pts = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
        vals = np.array([1.0, 2.0, 3.0, 4.0])
        got = griddata_linear(pts, vals, np.array([[5.0, 5.0], [0.5, 0.5]]))
        assert np.isnan(got[0])
        assert 1.0 <= got[1] <= 4.0

    def test_spark_multivariate_linear_no_nan(self, spark):
        """Planar matrix with interior NaNs: the 2-D pre-pass recovers the
        exact planar values; the 1-D pass leaves nothing NaN after."""
        from orange3_timeseries_spark.frame import TimeSeriesFrame
        from orange3_timeseries_spark.operators.interpolate import (
            interpolate_timeseries,
        )

        # value(i, j) = i + 10*j on a 5x3 grid, interior holes
        rows = []
        for i in range(5):
            vals = [float(i + 10 * j) for j in range(3)]
            if i == 2:
                vals[1] = None  # interior hole: hull-covered
            if i == 1:
                vals[2] = None
            rows.append((i, *vals))
        df = spark.createDataFrame(rows, "t long, a double, b double, c double")
        tsf = TimeSeriesFrame(df, time_col=None,
                              series_cols=[]).with_row_index(["t"])
        out = interpolate_timeseries(tsf, "linear", multivariate=True,
                                     cols=["a", "b", "c"])
        got = {r["t"]: (r["a"], r["b"], r["c"]) for r in out.df.collect()}
        assert got[2][1] == pytest.approx(12.0)  # 2 + 10*1
        assert got[1][2] == pytest.approx(21.0)  # 1 + 10*2
        for vals in got.values():
            assert all(v is not None for v in vals)
        # defined cells untouched
        assert got[0] == (0.0, 10.0, 20.0)
