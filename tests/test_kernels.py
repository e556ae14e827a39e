"""NumPy kernel unit tests + properties (SURVEY.md §5.2)."""

import numpy as np
import pytest

from coastsat_spark import kernels as K


class TestOtsu:
    def test_bimodal_separation(self):
        v = np.concatenate([np.full(200, -0.5), np.full(150, 0.3)])
        t = K.otsu_threshold(v + np.linspace(0, 0.02, 350))
        assert -0.5 < t < 0.3

    def test_nan_excluded(self):
        v = np.array([0.0, 1.0, np.nan, 0.1, 0.9])
        assert np.isfinite(K.otsu_threshold(v))

    def test_constant_input(self):
        assert K.otsu_threshold(np.full(10, 3.3)) == 3.3

    def test_empty(self):
        assert np.isnan(K.otsu_threshold(np.array([])))

    def test_permutation_invariance(self):
        rng = np.random.default_rng(42)
        v = rng.normal(size=500)
        t1 = K.otsu_threshold(v)
        t2 = K.otsu_threshold(v[::-1])
        assert t1 == t2


class TestComponents:
    def test_labels_and_connectivity(self):
        m = np.zeros((6, 6), bool)
        m[0:2, 0:2] = True
        m[3, 3] = True
        m[4, 4] = True
        lab8 = K.label_components(m, connectivity=2)
        lab4 = K.label_components(m, connectivity=1)
        assert lab8[3, 3] == lab8[4, 4]
        assert lab4[3, 3] != lab4[4, 4]

    def test_remove_small_objects(self):
        m = np.zeros((8, 8), bool)
        m[0:3, 0:3] = True  # 9 px
        m[6, 6] = True  # 1 px
        out = K.remove_small_objects(m, min_size=4)
        assert out.sum() == 9 and not out[6, 6]


class TestMarchingSquares:
    def test_vertical_line_on_ramp(self):
        g = np.tile(np.arange(6, dtype=float), (5, 1))
        cs = K.marching_squares(g, 2.5)
        assert len(cs) == 1
        assert np.allclose(cs[0][:, 1], 2.5)

    def test_circle_closed_contour(self):
        yy, xx = np.mgrid[0:20, 0:20]
        f = np.hypot(yy - 10.0, xx - 10.0)
        cs = K.marching_squares(f, 5.3)
        assert len(cs) == 1
        c = cs[0]
        assert np.allclose(c[0], c[-1])  # closed
        r = np.hypot(c[:, 0] - 10, c[:, 1] - 10)
        assert r.min() > 4.5 and r.max() < 5.5

    def test_nan_cells_skipped(self):
        g = np.tile(np.arange(6, dtype=float), (5, 1))
        g[:, 2] = np.nan  # kill the contour column
        cs = K.marching_squares(g, 2.5)
        assert sum(len(c) for c in cs) == 0

    def test_subpixel_interpolation(self):
        g = np.tile(np.arange(4, dtype=float), (3, 1))
        cs = K.marching_squares(g, 1.25)
        assert np.allclose(cs[0][:, 1], 1.25)


class TestDespike:
    def test_single_spike_removed(self):
        x = np.array([0, 1, 2, 50, 3, 4, 5, 6.0])
        keep = K.despike(x, 20)
        assert not keep[3] and keep.sum() == 7

    def test_monotonic_kept(self):
        x = np.linspace(0, 10, 20)
        assert K.despike(x, 2).all()

    def test_two_point_cluster(self):
        x = np.array([0, 1, 2, 50, 51, 3, 4, 5.0])
        keep = K.despike(x, 20)
        assert not keep[3] and not keep[4]

    def test_three_point_cluster(self):
        x = np.array([0, 1, 2, 50, 51, 50, 3, 4, 5.0])
        keep = K.despike(x, 20)
        assert not keep[3:6].any()

    def test_terminates(self):
        rng = np.random.default_rng(7)
        x = rng.normal(scale=30, size=200)
        K.despike(x, 10)  # no hang

    @staticmethod
    def _oracle(vals, thr):
        """Behavior oracle for the reference identify_outliers
        (SDS_transects.py:484-594): pop-and-restart scan, returns the
        surviving values. Kept deliberately close to the published loop
        structure so despike()'s keep-mask can be checked against it."""
        xs = [float(v) for v in vals]
        k = 0
        while k < len(xs):
            for k in range(len(xs)):
                hit = False
                if k == 0:
                    hit = abs(xs[0] - xs[1]) > thr
                elif k == len(xs) - 1:
                    hit = abs(xs[k] - xs[k - 1]) > thr
                else:
                    dm1, dp1 = xs[k] - xs[k - 1], xs[k] - xs[k + 1]
                    c1, c2 = abs(dm1) > thr, abs(dp1) > thr
                    if c1 and c2 and np.sign(dp1) == np.sign(dm1):
                        hit = True
                    elif 2 <= k < len(xs) - 2:
                        dm2, dp2 = xs[k - 1] - xs[k - 2], xs[k + 1] - xs[k + 2]
                        c4, c5 = abs(dm2) > thr, abs(dp2) > thr
                        if c1 and c5 and np.sign(dm1) == np.sign(dp2):
                            hit = True
                        elif c2 and c4 and np.sign(dp1) == np.sign(dm2):
                            hit = True
                        elif (
                            abs(dm2) > 1.5 * thr
                            and abs(dp2) > 1.5 * thr
                            and not c1
                            and not c2
                            and np.sign(dm2) == np.sign(dp2)
                        ):
                            hit = True
                if hit:
                    xs.pop(k)
                    break
            k = k + 1
        return xs

    def test_reference_parity_randomized(self):
        """despike() keep-mask must reproduce the reference loop exactly,
        including endpoint removal, both 2-consecutive combinations, the
        1.5x 3-cluster rule and the outer-loop early-exit."""
        rng = np.random.default_rng(123)
        for trial in range(300):
            n = int(rng.integers(2, 40))
            x = np.round(rng.normal(scale=5, size=n).cumsum(), 3)
            # plant spikes of width 1-3 at random spots
            for _ in range(int(rng.integers(0, 4))):
                i = int(rng.integers(0, n))
                w = int(rng.integers(1, 4))
                x[i : i + w] += rng.choice([-1, 1]) * rng.uniform(20, 80)
            thr = float(rng.uniform(5, 30))
            keep = K.despike(x, thr)
            got = list(x[keep])
            want = self._oracle(x, thr)
            assert got == want, (trial, x.tolist(), thr)

    def test_reference_parity_endpoints(self):
        # first and last point spikes are removed (reference k==0 / k==len-1)
        assert not K.despike(np.array([50.0, 1, 2, 3]), 20)[0]
        assert not K.despike(np.array([1.0, 2, 3, 50]), 20)[-1]


class TestImageStd:
    def test_constant_zero(self):
        assert np.allclose(K.image_std(np.full((7, 7), 2.0)), 0.0)

    def test_matches_direct_window(self):
        rng = np.random.default_rng(3)
        im = rng.normal(size=(6, 6))
        out = K.image_std(im, 1)
        pad = np.pad(im, 1, mode="reflect")
        direct = np.empty_like(im)
        for i in range(6):
            for j in range(6):
                direct[i, j] = pad[i : i + 3, j : j + 3].std()
        assert np.allclose(out, direct, atol=1e-10)


class TestGeometry:
    def test_polyline_length(self):
        p = np.array([[0, 0], [3, 4], [3, 4]])
        assert K.polyline_length(p) == 5.0

    def test_point_in_polygon(self):
        poly = np.array([[0, 0], [10, 0], [10, 10], [0, 10.0]])
        inside = K.point_in_polygon(
            np.array([5.0, 15.0, -0.1]), np.array([5.0, 5.0, 5.0]), poly
        )
        assert inside.tolist() == [True, False, False]


class TestBalancedSample:
    def test_deterministic_and_balanced(self):
        ka = np.array([5, 3, 1, 4], dtype=np.uint64)
        kb = np.array([9, 2], dtype=np.uint64)
        ia, ib = K.balanced_subsample_indices(4, 2, ka, kb)
        assert len(ia) == len(ib) == 2
        assert ia.tolist() == [2, 1]  # smallest keys first, stable


class TestLabelComponentsRandomized:
    @staticmethod
    def _bfs_labels(mask, connectivity):
        """Independent BFS oracle, scan-order dense numbering."""
        from collections import deque

        h, w = mask.shape
        out = np.zeros((h, w), dtype=np.int32)
        nbrs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
        if connectivity == 2:
            nbrs += [(-1, -1), (-1, 1), (1, -1), (1, 1)]
        nxt = 0
        for si in range(h):
            for sj in range(w):
                if not mask[si, sj] or out[si, sj]:
                    continue
                nxt += 1
                dq = deque([(si, sj)])
                out[si, sj] = nxt
                while dq:
                    i, j = dq.popleft()
                    for di, dj in nbrs:
                        a, b = i + di, j + dj
                        if 0 <= a < h and 0 <= b < w and mask[a, b] and not out[a, b]:
                            out[a, b] = nxt
                            dq.append((a, b))
        return out

    def test_matches_bfs_oracle(self):
        rng = np.random.default_rng(11)
        for trial in range(60):
            h, w = rng.integers(1, 24, 2)
            mask = rng.random((h, w)) < rng.uniform(0.2, 0.8)
            for conn in (1, 2):
                got = K.label_components(mask, conn)
                want = self._bfs_labels(mask, conn)
                assert (got == want).all(), (trial, conn, mask.astype(int))

    def test_snake_worst_case(self):
        # a single serpentine component spanning the whole grid exercises
        # the pointer-jumping convergence (long chain diameter)
        g = 32
        mask = np.zeros((g, g), dtype=bool)
        for i in range(g):
            mask[i, :] = True if i % 2 == 0 else False
            if i % 4 == 1:
                mask[i, -1] = True
            if i % 4 == 3:
                mask[i, 0] = True
        got = K.label_components(mask, 1)
        want = self._bfs_labels(mask, 1)
        assert (got == want).all()


def test_within_distance_matches_bruteforce():
    """Truncated separable distance transform == brute-force point-matrix
    threshold on random masks (the J7/R7 gate contract)."""
    rng = np.random.default_rng(0)
    for trial in range(25):
        h, w = rng.integers(4, 40, 2)
        mask = rng.random((h, w)) < 0.12
        r = float(rng.uniform(0.5, 6.5))
        got = K.within_distance(mask, r)
        ys, xs = np.nonzero(mask)
        if len(ys) == 0:
            assert not got.any()
            continue
        yy, xx = np.mgrid[0:h, 0:w]
        d2 = (yy[..., None] - ys) ** 2 + (xx[..., None] - xs) ** 2
        want = d2.min(axis=2) <= r * r
        assert (got == want).all(), trial


def test_buffer_mask_float_and_out_of_range_points():
    """Sub-pixel / out-of-grid reference points use the exact brute-force
    fallback (no silent wrap or truncation)."""
    shape = (6, 6)
    # float point between centers: exact distances, not truncated
    got = K.buffer_mask(shape, np.array([2.5]), np.array([2.5]), 0.8)
    yy, xx = np.mgrid[0:6, 0:6]
    want = ((yy - 2.5) ** 2 + (xx - 2.5) ** 2) <= 0.64
    assert (got == want).all()
    # out-of-grid point must NOT wrap to the opposite edge
    got2 = K.buffer_mask(shape, np.array([-1]), np.array([0]), 1.0)
    assert got2[0, 0] and not got2[5, 0]


class TestArrowListFlat:
    """kernels.arrow_list_flat: the one reader of Arrow list columns."""

    @staticmethod
    def _with_null_extent():
        import pyarrow as pa

        # row 1 is NULL but spans offsets [2, 5): legal Arrow, and
        # flatten() skips those three values
        return pa.ListArray.from_arrays(
            pa.array([0, 2, 5, 7], pa.int32()),
            pa.array(range(7), pa.int64()),
            mask=pa.array([False, True, False]),
        )

    def test_null_slot_with_nonzero_extent(self):
        flat, lens = K.arrow_list_flat(self._with_null_extent())
        assert flat.tolist() == [0, 1, 5, 6]
        assert lens.tolist() == [2, 0, 2]

    def test_sliced(self):
        col = self._with_null_extent()
        flat, lens = K.arrow_list_flat(col.slice(1))
        assert flat.tolist() == [5, 6] and lens.tolist() == [0, 2]
        flat, lens = K.arrow_list_flat(col.slice(0, 1))
        assert flat.tolist() == [0, 1] and lens.tolist() == [2]

    def test_empty_batch(self):
        import pyarrow as pa

        flat, lens = K.arrow_list_flat(pa.array([], pa.list_(pa.int64())))
        assert len(flat) == 0 and len(lens) == 0
        flat, lens = K.arrow_list_flat(self._with_null_extent().slice(3))
        assert len(flat) == 0 and len(lens) == 0

    def test_float_values_and_all_null_rows(self):
        import pyarrow as pa

        col = pa.array([[1.0, 2.0], None, [], None], pa.list_(pa.float32()))
        flat, lens = K.arrow_list_flat(col)
        assert flat.dtype == np.float32 and flat.tolist() == [1.0, 2.0]
        assert lens.tolist() == [2, 0, 0, 0]

    def test_mismatch_raises(self):
        import pyarrow as pa

        class Misaligned:  # offsets claim more values than flatten() yields
            offsets = pa.array([0, 2, 4], pa.int32())
            null_count = 0

            @staticmethod
            def flatten():
                return pa.array([1, 2, 3], pa.int64())

        with pytest.raises(ValueError, match="3 values"):
            K.arrow_list_flat(Misaligned())
