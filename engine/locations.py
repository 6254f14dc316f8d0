"""Activity-location detection — the analytical core (SURVEY.md §2.4 A2-A5).

Reference analog: REF gaussian.py::kde + REF trace.py::Trace.
get_activity_locations + REF location.py [M] — time-weighted Gaussian KDE
over a user's (here: host's) trajectory, thresholded in dwell-seconds,
peaks agglomerated into activity locations.

Spark shape (detect_locations): chunk-parallel — a mapInArrow binning
kernel over arbitrary partitions (O(sites), embarrassingly parallel)
emits per-(host, cell) partial masses; a per-host bucket-prune kernel
and a semi-join drop cells that cannot reach the threshold; ONE per-host
kernel then merges the surviving partials and runs on the occupied-cell
grid (O(cells)).  The single-kernel-per-host variant is kept as
detect_locations_wholehost (parity oracle).  Every per-host kernel is an
Arrow kernel over a host-sorted stream (repartition + partition sort +
keyruns.key_run_stream) — no per-group pandas frame.  Inside the kernels
everything is vectorized numpy on a SPARSE grid:

  1. X3   — segment interpolation (identical math to
            trace_prep.interpolate_sites; parity is tested),
  2. A2   — bin site mass to a grid_cell_m grid in a local equirectangular
            frame anchored at the host's first point (§2.9), then Gaussian
            smoothing by direct stencil accumulation over OCCUPIED cells
            only (O(sites x stencil), no dense extent blowup — a host whose
            pages span the globe costs O(its sites), not O(its bbox)),
  3. A3   — threshold at kde_time_threshold_s (density is in seconds/cell:
            the stencil is normalized to sum 1),
  4. A4   — union-find agglomeration of super-threshold cells within
            cluster_distance_m,
  5. A5   — density-weighted centroid + dwell per cluster; location ids
            numbered by dwell desc then (lon, lat) — fully deterministic.

Memory bound: cfg.max_points_per_kernel caps a single host's kernel input
(chunk upstream by subset_id if ever exceeded — SURVEY.md §4.2 spill note).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import geo
from .config import DEFAULT, EngineConfig
from .keyruns import key_run_stream

LOCATION_SCHEMA = ("host string, location_id int, lat double, lon double, "
                   "dwell_s double, n_cells int")


def _sites_numpy(lat, lon, nlat, nlon, ndt, step_m):
    """X3 twin of trace_prep.interpolate_sites (same math, numpy)."""
    seg = ~np.isnan(ndt)
    a_lat, a_lon = lat[seg], lon[seg]
    b_lat, b_lon = nlat[seg], nlon[seg]
    dt = ndt[seg]
    d = geo.haversine_m(a_lat, a_lon, b_lat, b_lon)
    n = np.maximum(1, np.ceil(d / step_m)).astype(np.int64)
    total = int(n.sum())
    if total == 0:
        return (np.empty(0), np.empty(0), np.empty(0))
    seg_idx = np.repeat(np.arange(len(n)), n)
    # k-th site within its segment
    starts = np.concatenate([[0], np.cumsum(n)[:-1]])
    k = np.arange(total) - starts[seg_idx]
    frac = (k + 0.5) / n[seg_idx]
    slat = a_lat[seg_idx] + frac * (b_lat[seg_idx] - a_lat[seg_idx])
    slon = a_lon[seg_idx] + frac * (b_lon[seg_idx] - a_lon[seg_idx])
    mass = dt[seg_idx] / n[seg_idx]
    return slat, slon, mass


def _gauss_stencil(bandwidth_m: float, cell_m: float):
    sigma = bandwidth_m / cell_m
    r = int(np.ceil(3.0 * sigma))
    k = np.arange(-r, r + 1)
    g1 = np.exp(-0.5 * (k / sigma) ** 2)
    g2 = np.outer(g1, g1)
    g2 /= g2.sum()
    dj, di = np.meshgrid(k, k)
    return di.ravel(), dj.ravel(), g2.ravel()


def _gauss_1d(bandwidth_m: float, cell_m: float):
    """Normalized 1-D kernel; outer(g1, g1) == the normalized 2-D stencil,
    so two separable passes equal the 2-D convolution exactly (up to float
    associativity)."""
    sigma = bandwidth_m / cell_m
    r = int(np.ceil(3.0 * sigma))
    k = np.arange(-r, r + 1)
    g = np.exp(-0.5 * (k / sigma) ** 2)
    return g / g.sum()


def _unpack(keys):
    x = np.asarray(keys) >> np.int64(32)
    y = ((np.asarray(keys) & np.int64(0xFFFFFFFF)) << np.int64(32)) >> np.int64(32)
    return x, y


def _cluster_buckets(keys: np.ndarray) -> np.ndarray:
    """8-adjacency connected-component labels for sorted unique bucket keys."""
    bx, by = _unpack(keys)
    pos = {int(k): i for i, k in enumerate(keys.tolist())}
    labels = np.full(len(keys), -1, dtype=np.int64)
    nxt = 0
    for i in range(len(keys)):
        if labels[i] != -1:
            continue
        labels[i] = nxt
        stack = [i]
        while stack:
            j = stack.pop()
            for a in (-1, 0, 1):
                for b in (-1, 0, 1):
                    nk = int(((bx[j] + a) << np.int64(32))
                             ^ ((by[j] + b) & np.int64(0xFFFFFFFF)))
                    t = pos.get(nk)
                    if t is not None and labels[t] == -1:
                        labels[t] = nxt
                        stack.append(t)
        nxt += 1
    return labels


def _cluster_cells(hix, hiy, cell, rmax_m):
    """A4: connected-component roots over hot cells within `rmax_m`
    (exact Euclidean on cell centers).  Bucket-indexed BFS: candidates
    come only from the 3x3 neighborhood of R-sized buckets, so cost is
    O(k x local-density) — the naive pairwise union-find is O(k^2) and
    stalls when dense corridors go hot (tens of thousands of hot cells
    on a mega-host).  Root LABELS are seed-order-dependent but the
    component PARTITION is not; callers aggregate per component."""
    cx = (np.asarray(hix, dtype=np.float64) + 0.5) * cell
    cy = (np.asarray(hiy, dtype=np.float64) + 0.5) * cell
    k = len(cx)
    rmax2 = rmax_m ** 2
    rcells = int(np.ceil(rmax_m / cell))
    bx = np.floor(np.asarray(hix, dtype=np.float64) / rcells).astype(np.int64)
    by = np.floor(np.asarray(hiy, dtype=np.float64) / rcells).astype(np.int64)
    buckets: dict[tuple[int, int], np.ndarray] = {}
    order = np.lexsort((by, bx))
    sb = np.stack([bx[order], by[order]], axis=1)
    cuts = np.flatnonzero(np.any(np.diff(sb, axis=0) != 0, axis=1)) + 1
    for grp in np.split(order, cuts):
        buckets[(int(bx[grp[0]]), int(by[grp[0]]))] = grp
    roots = np.full(k, -1, dtype=np.int64)
    for seed in range(k):
        if roots[seed] != -1:
            continue
        roots[seed] = seed
        stack = [seed]
        while stack:
            i = stack.pop()
            bi, bj = int(bx[i]), int(by[i])
            for db in range(-1, 2):
                for dj in range(-1, 2):
                    grp = buckets.get((bi + db, bj + dj))
                    if grp is None:
                        continue
                    cand = grp[roots[grp] == -1]
                    if len(cand) == 0:
                        continue
                    d2 = (cx[cand] - cx[i]) ** 2 + (cy[cand] - cy[i]) ** 2
                    hit = cand[d2 <= rmax2]
                    if len(hit):
                        roots[hit] = seed
                        stack.extend(hit.tolist())
    return roots


def _sparse_smooth_threshold(ix, iy, m, bandwidth_m, cell_m, thr):
    """Fallback sparse scatter smoothing for degenerate sprawling regions."""
    di, dj, gw = _gauss_stencil(bandwidth_m, cell_m)
    tix = (ix[:, None] + di[None, :]).ravel()
    tiy = (iy[:, None] + dj[None, :]).ravel()
    tm = (m[:, None] * gw[None, :]).ravel()
    tkey = (tix << np.int64(32)) ^ (tiy & np.int64(0xFFFFFFFF))
    uk, inv = np.unique(tkey, return_inverse=True)
    dens = np.bincount(inv, weights=tm)
    hot = dens >= thr
    hx, hy = _unpack(uk[hot])
    return hx, hy, dens[hot]


def kde_locations_numpy(lat, lon, nlat, nlon, ndt, cfg: EngineConfig,
                        anchor: tuple[float, float] | None = None,
                        quant: bool = False):
    """Sparse-grid KDE + clustering for ONE host.  Returns
    (loc_lat, loc_lon, dwell_s, n_cells) arrays ordered by location id.
    `anchor` (lat0, lon0) is the host's FIRST point; defaults to row 0 for
    time-ordered input.  quant=True switches to the bit-portable
    integer-arithmetic oracle mode (_kde_from_grid_quant)."""
    slat, slon, mass = _sites_numpy(lat, lon, nlat, nlon, ndt,
                                    cfg.interpolation_step_m)
    if len(slat) == 0:
        return (np.empty(0), np.empty(0), np.empty(0),
                np.empty(0, dtype=np.int64))
    if quant:
        mass = np.floor(mass * QUANT_MASS_SCALE)
    else:
        mass = np.round(mass * FLOAT_MASS_SCALE)
    # anchor: host's first point
    lat0, lon0 = anchor if anchor is not None else (float(lat[0]), float(lon[0]))
    x, y = geo.equirect_project(slat, slon, lat0, lon0)
    cell = cfg.grid_cell_m
    ix = np.floor(x / cell).astype(np.int64)
    iy = np.floor(y / cell).astype(np.int64)

    # aggregate mass per occupied cell
    key = (ix << np.int64(32)) ^ (iy & np.int64(0xFFFFFFFF))
    uk, inv = np.unique(key, return_inverse=True)
    m0 = np.bincount(inv, weights=mass)
    uix = uk >> np.int64(32)
    uiy = ((uk & np.int64(0xFFFFFFFF)) << np.int64(32)) >> np.int64(32)  # sign-extend
    if quant:
        return _kde_from_grid_quant(uix, uiy, m0, lat0, lon0, cfg)
    return _kde_from_grid(uix, uiy, m0, lat0, lon0, cfg,
                          scale=FLOAT_MASS_SCALE)


def _kde_from_grid(uix, uiy, m0, lat0, lon0, cfg: EngineConfig,
                   scale: float = 1.0):
    """A2(smooth)-A5 on an already-binned sparse grid: UNIQUE occupied
    cells (uix, uiy) carrying aggregated dwell mass m0 (in seconds x
    `scale` units — integer microseconds on the production path, see
    FLOAT_MASS_SCALE), in the host-local equirectangular frame anchored at
    (lat0, lon0).  Shared by the whole-host kernel (kde_locations_numpy)
    and the chunk-parallel detect_locations merge kernel — cost is
    O(occupied cells), independent of the host's point count.

    Determinism contract: the input cells are canonically re-sorted by
    (ix, iy) first, so every float accumulation below runs in ONE fixed
    order no matter how the caller packed/sorted its cell keys — with the
    integer-us mass snap this makes wholehost and chunked byte-identical."""
    order = np.lexsort((uiy, uix))
    uix, uiy, m0 = (np.asarray(uix)[order], np.asarray(uiy)[order],
                    np.asarray(m0)[order])
    thr = cfg.kde_time_threshold_s * scale
    cell = cfg.grid_cell_m
    # EXACT threshold-aware pruning before smoothing: the stencil sums to 1,
    # so density(c) <= total mass within c +- r cells <= the 3x3 coarse-
    # bucket (16-cell = 200 m) neighborhood mass of c's bucket.  Only cells
    # inside (the 1-bucket dilation of) buckets whose neighborhood holds
    # >= kde_time_threshold_s can influence a super-threshold output cell.
    # A mega-host's travel corridors occupy ~1M distinct cells carrying
    # seconds of mass each — without this, the scatter below builds 169x
    # that and a single host serializes the whole job (measured 329 s ->
    # ~2 s; scaling-efficiency bottleneck).
    r_cells = int(np.ceil(3.0 * cfg.kernel_bandwidth_m / cell))
    bshift = np.int64(max(4, int(np.ceil(np.log2(r_cells + 1)))))
    ck = ((uix >> bshift) << np.int64(32)) ^ ((uiy >> bshift) & np.int64(0xFFFFFFFF))
    ucb, cinv = np.unique(ck, return_inverse=True)
    cmass = np.bincount(cinv, weights=m0)
    cbx = ucb >> np.int64(32)
    cby = ((ucb & np.int64(0xFFFFFFFF)) << np.int64(32)) >> np.int64(32)
    # 3x3 coarse neighborhood sums
    nbh = np.zeros(len(ucb))
    for dbx in (-1, 0, 1):
        for dby in (-1, 0, 1):
            nkey = ((cbx + dbx) << np.int64(32)) ^ ((cby + dby) & np.int64(0xFFFFFFFF))
            pos = np.searchsorted(ucb, nkey)
            pos = np.clip(pos, 0, len(ucb) - 1)
            hit = ucb[pos] == nkey
            # bincount, not np.add.at (~10x on this VM): cmass entries are
            # integer-valued doubles (integer-us masses), so the sum is
            # exact and order-free — bit-identical accumulation.
            nbh += np.bincount(pos[hit], weights=cmass[hit],
                               minlength=len(ucb))
    cand = ucb[nbh >= thr]
    if len(cand) == 0:
        return (np.empty(0), np.empty(0), np.empty(0),
                np.empty(0, dtype=np.int64))
    # dilate candidate buckets by 1 and keep only input cells inside them
    cdx = cand >> np.int64(32)
    cdy = ((cand & np.int64(0xFFFFFFFF)) << np.int64(32)) >> np.int64(32)
    dil = np.unique(np.concatenate(
        [((cdx + a) << np.int64(32)) ^ ((cdy + b) & np.int64(0xFFFFFFFF))
         for a in (-1, 0, 1) for b in (-1, 0, 1)]))
    keep = np.isin(ck, dil, assume_unique=False)
    uix, uiy, m0 = uix[keep], uiy[keep], m0[keep]
    ckk = ck[keep]

    # Gaussian smoothing on DENSE per-region blocks: cluster the dilated
    # candidate buckets (8-adjacency BFS), then one small dense grid +
    # separable 1-D convolutions per region.  Regions are >= 1 empty bucket
    # (16 cells > stencil radius 6) apart, so no cross-region mass — exact.
    # A dense region grid is O(region bbox); the sparse 169-point scatter is
    # O(kept_cells x 169) and melts down when corridors go hot (a 1.4M-point
    # host kept 1.2M cells -> 210M scatter entries; this path is ~1000x less
    # traffic).  Degenerate huge-bbox regions (continent-spanning) fall back
    # to the sparse scatter per region.
    g1 = _gauss_1d(cfg.kernel_bandwidth_m, cell)
    r = (len(g1) - 1) // 2
    labels = _cluster_buckets(dil)  # aligned to sorted `dil`
    cell_region = labels[np.searchsorted(dil, ckk)]
    hix_l, hiy_l, hd_l = [], [], []
    for reg in np.unique(cell_region):
        sel = cell_region == reg
        rix, riy, rm = uix[sel], uiy[sel], m0[sel]
        x0, x1 = int(rix.min()) - r, int(rix.max()) + r
        y0, y1 = int(riy.min()) - r, int(riy.max()) + r
        h, w = x1 - x0 + 1, y1 - y0 + 1
        if h * w > 20_000_000:  # degenerate sprawl: sparse fallback
            hx, hy, hv = _sparse_smooth_threshold(
                rix, riy, rm, cfg.kernel_bandwidth_m, cell, thr)
        else:
            # bincount scatter, not np.add.at (~10x on this VM): rm is
            # integer-valued (integer-us site masses), so the per-cell sum
            # is exact and order-free — bit-identical accumulation.
            grid = np.bincount((rix - x0) * w + (riy - y0), weights=rm,
                               minlength=h * w).reshape(h, w)
            from numpy.lib.stride_tricks import sliding_window_view
            pad = np.pad(grid, ((r, r), (0, 0)))
            grid = np.ascontiguousarray(
                sliding_window_view(pad, len(g1), axis=0)[:, :, :] @ g1)
            pad = np.pad(grid, ((0, 0), (r, r)))
            grid = sliding_window_view(pad, len(g1), axis=1) @ g1
            gx, gy = np.nonzero(grid >= thr)
            hx, hy, hv = gx + x0, gy + y0, grid[gx, gy]
        hix_l.append(hx)
        hiy_l.append(hy)
        hd_l.append(hv)
    hix = np.concatenate(hix_l).astype(np.float64)
    hiy = np.concatenate(hiy_l).astype(np.float64)
    hd = np.concatenate(hd_l)
    if len(hix) == 0:
        return (np.empty(0), np.empty(0), np.empty(0),
                np.empty(0, dtype=np.int64))

    # A4 (shared helper _cluster_cells): connected components over
    # super-threshold cells within cluster_distance.
    roots = _cluster_cells(hix, hiy, cell, cfg.cluster_distance_m)
    cx = (hix + 0.5) * cell
    cy = (hiy + 0.5) * cell

    # A5: centroid + dwell per cluster
    labels = np.unique(roots)
    out_lat, out_lon, out_dwell, out_n = [], [], [], []
    for r in labels:
        mask = roots == r
        w = hd[mask]
        mx = float((cx[mask] * w).sum() / w.sum())
        my = float((cy[mask] * w).sum() / w.sum())
        clat, clon = geo.equirect_unproject(mx, my, lat0, lon0)
        out_lat.append(float(clat))
        out_lon.append(float(clon))
        out_dwell.append(float(w.sum()) / scale)
        out_n.append(int(mask.sum()))
    # deterministic ids: dwell desc, then (lon, lat)
    order = sorted(range(len(labels)),
                   key=lambda i: (-out_dwell[i], out_lon[i], out_lat[i]))
    return (np.array([out_lat[i] for i in order]),
            np.array([out_lon[i] for i in order]),
            np.array([out_dwell[i] for i in order]),
            np.array([out_n[i] for i in order], dtype=np.int64))


QUANT_W_SCALE = 1 << 16          # stencil weights -> integers
QUANT_MASS_SCALE = 1000.0        # site mass seconds -> integer ms
# Float-mode site mass is snapped to integer MICROSECONDS at the site level
# (np.round; both the whole-host and the chunk-parallel kernels snap the
# same per-site values), so every mass accumulation up to the Gaussian
# convolution is an exact-integer sum — merge/arrival order cannot change a
# cell's mass, and chunked == wholehost BYTE-exactly.  Headroom: a cell's
# mass is bounded by the host's observed time span; 2^53 us ~ 285 years, so
# float64 bincount sums stay exact with enormous margin.  The snap perturbs
# each site by < 0.5 us — ~1e-9 relative — far inside the goldens' 1e-9-deg
# centroid tolerance (a weighted-mean shift of eps-relative mass moves the
# centroid by <= eps x cluster radius ~ 5e-8 m).
FLOAT_MASS_SCALE = 1e6           # site mass seconds -> integer us


def quant_stencil(cfg: EngineConfig = DEFAULT):
    """Integer Gaussian stencil for the bit-portable oracle mode: the same
    normalized 2-D kernel as _gauss_stencil, rounded to QUANT_W_SCALE
    integer weights (zero taps dropped).  These integers are the SINGLE
    SOURCE OF TRUTH for both the engine quant kernel and the DuckDB oracle
    SQL (which embeds them as literals) — exp() never has to agree
    cross-engine.  Returns (di, dj, w_int, wsum)."""
    di, dj, g = _gauss_stencil(cfg.kernel_bandwidth_m, cfg.grid_cell_m)
    w = np.round(g * QUANT_W_SCALE).astype(np.int64)
    nz = w > 0
    return di[nz], dj[nz], w[nz], int(w[nz].sum())


def _kde_from_grid_quant(uix, uiy, m0, lat0, lon0, cfg: EngineConfig):
    """Bit-portable quant twin of _kde_from_grid (same A2-A5 lattice,
    exact-integer arithmetic end to end) — the oracle mode that lets the
    FULL location-detection chain be replayed in ANSI SQL:

      * m0 arrives as integer-ms cell masses (floor at site level) — every
        aggregation is an exact-integer sum, order-independent;
      * smoothing is the quant_stencil integer scatter: dens(c) =
        sum(m0_ms * w_int) in int64 (<= host_ms * wsum < 2^53 headroom by
        construction at QUANT_W_SCALE = 2^16);
      * A3 threshold is the integer compare dens >= thr_ms * wsum;
      * A4 is the shared _cluster_cells BFS (the adjacency predicate
        (dx^2+dy^2)*cell^2 <= rmax^2 is exact float math on integers);
      * A5 centroids come from integer moment sums shifted to the cluster
        min corner (sdx = sum(dens*(ix-ix0)) fits int64), so the only
        float ops are one division, one add chain, and the equirect
        unproject — identical op order to the SQL replay.

    The threshold-aware bucket prune is replicated from _kde_from_grid
    with the ms-scaled threshold; it provably changes nothing about hot
    cells (see that function's proof), so the SQL oracle skips it."""
    thr_ms = cfg.kde_time_threshold_s * float(QUANT_MASS_SCALE)
    cell = cfg.grid_cell_m
    empty = (np.empty(0), np.empty(0), np.empty(0),
             np.empty(0, dtype=np.int64))
    # --- prune (quant twin of the _kde_from_grid block, thr in ms)
    r_cells = int(np.ceil(3.0 * cfg.kernel_bandwidth_m / cell))
    bshift = np.int64(max(4, int(np.ceil(np.log2(r_cells + 1)))))
    ck = ((uix >> bshift) << np.int64(32)) ^ ((uiy >> bshift) & np.int64(0xFFFFFFFF))
    ucb, cinv = np.unique(ck, return_inverse=True)
    cmass = np.bincount(cinv, weights=m0)
    cbx = ucb >> np.int64(32)
    cby = ((ucb & np.int64(0xFFFFFFFF)) << np.int64(32)) >> np.int64(32)
    nbh = np.zeros(len(ucb))
    for dbx in (-1, 0, 1):
        for dby in (-1, 0, 1):
            nkey = ((cbx + dbx) << np.int64(32)) \
                ^ ((cby + dby) & np.int64(0xFFFFFFFF))
            pos = np.searchsorted(ucb, nkey)
            pos = np.clip(pos, 0, len(ucb) - 1)
            hit = ucb[pos] == nkey
            np.add.at(nbh, pos[hit], cmass[np.where(hit)[0]])
    cand = ucb[nbh >= thr_ms]
    if len(cand) == 0:
        return empty
    cdx = cand >> np.int64(32)
    cdy = ((cand & np.int64(0xFFFFFFFF)) << np.int64(32)) >> np.int64(32)
    dil = np.unique(np.concatenate(
        [((cdx + a) << np.int64(32)) ^ ((cdy + b) & np.int64(0xFFFFFFFF))
         for a in (-1, 0, 1) for b in (-1, 0, 1)]))
    keep = np.isin(ck, dil, assume_unique=False)
    uix, uiy, m0 = uix[keep], uiy[keep], m0[keep]

    # --- A2 quant: integer stencil scatter over kept cells
    di, dj, w, wsum = quant_stencil(cfg)
    m0q = m0.astype(np.int64)
    tix = (uix[:, None] + di[None, :]).ravel()
    tiy = (uiy[:, None] + dj[None, :]).ravel()
    tm = (m0q[:, None] * w[None, :]).ravel()
    tkey = (tix << np.int64(32)) ^ (tiy & np.int64(0xFFFFFFFF))
    uk, inv = np.unique(tkey, return_inverse=True)
    dens = np.zeros(len(uk), dtype=np.int64)
    np.add.at(dens, inv, tm)
    thr_q = np.int64(round(thr_ms)) * np.int64(wsum)
    hot = dens >= thr_q
    if not bool(hot.any()):
        return empty
    hix, hiy = _unpack(uk[hot])
    hd = dens[hot]

    # --- A4 (shared helper)
    roots = _cluster_cells(hix, hiy, cell, cfg.cluster_distance_m)

    # --- A5 quant: integer moment sums, then ONE division per axis
    denom = float(QUANT_MASS_SCALE) * wsum
    out_lat, out_lon, out_dwell, out_n = [], [], [], []
    for r in np.unique(roots):
        mask = roots == r
        d = hd[mask]
        gx, gy = hix[mask], hiy[mask]
        sd = int(d.sum())
        ix0, iy0 = int(gx.min()), int(gy.min())
        sdx = int((d * (gx - ix0)).sum())
        sdy = int((d * (gy - iy0)).sum())
        mx = cell * ((ix0 + sdx / sd) + 0.5)
        my = cell * ((iy0 + sdy / sd) + 0.5)
        clat, clon = geo.equirect_unproject(mx, my, lat0, lon0)
        out_lat.append(float(clat))
        out_lon.append(float(clon))
        out_dwell.append(sd / denom)
        out_n.append(int(mask.sum()))
    order = sorted(range(len(out_lat)),
                   key=lambda i: (-out_dwell[i], out_lon[i], out_lat[i]))
    return (np.array([out_lat[i] for i in order]),
            np.array([out_lon[i] for i in order]),
            np.array([out_dwell[i] for i in order]),
            np.array([out_n[i] for i in order], dtype=np.int64))


def _wholehost_kernel(cfg: EngineConfig, quant: bool = False):
    """Per-host kernel for detect_locations_wholehost: kde_locations_numpy
    straight off one host's Arrow run.  The KDE is order-independent
    (integer-us site masses; cells canonically re-sorted in
    _kde_from_grid) and the projection anchor is the host's first point,
    located by integer argmin(seq), so the run needs no sort."""
    def kernel(run):
        arrs = {c: run[c].to_numpy()
                for c in ("seq", "lat", "lon", "next_lat", "next_lon",
                          "next_dt_s")}
        lat = arrs["lat"]
        lon = arrs["lon"]
        a = int(np.argmin(arrs["seq"]))
        la, lo, dw, nc = kde_locations_numpy(
            lat, lon, arrs["next_lat"], arrs["next_lon"],
            arrs["next_dt_s"], cfg,
            anchor=(float(lat[a]), float(lon[a])), quant=quant)
        return _locations_batch(run, la, lo, dw, nc)

    return kernel


def _locations_batch(run, la, lo, dw, nc):
    """LOCATION_SCHEMA rows for one host run (None when it has none)."""
    import pyarrow as pa
    if len(la) == 0:
        return None
    return pa.record_batch([
        pa.repeat(run["host"][0], len(la)),
        pa.array(np.arange(len(la), dtype=np.int32)),
        pa.array(la), pa.array(lo), pa.array(dw),
        pa.array(nc.astype(np.int32)),
    ], names=["host", "location_id", "lat", "lon", "dwell_s", "n_cells"])


def detect_locations_wholehost(points: DataFrame,
                               cfg: EngineConfig = DEFAULT,
                               quant: bool = False) -> DataFrame:
    """Single-kernel-per-host variant (round-1 design).

    Correct, but the whole O(sites) interpolate+bin phase runs as ONE task
    per host, so the Zipf mega-host is a serial floor that caps scaling at
    every parallelism level (measured: the locations stage pinned at ~22 s
    from local[2] through local[32] on the 8M-doc corpus).  Kept as the
    parity oracle for detect_locations' chunk-parallel path.

    Plumbing: one hash exchange on host + a native partition sort, then
    one Arrow kernel per host run (keyruns.key_run_stream)."""
    cols = ["host", "seq", "lat", "lon",
            "next_lat", "next_lon", "next_dt_s"]
    pts = (points.select(*cols)
           .repartition(F.col("host"))
           .sortWithinPartitions("host"))
    return pts.mapInArrow(
        key_run_stream(["host"], _wholehost_kernel(cfg, quant=quant)),
        schema=LOCATION_SCHEMA)


_PARTIAL_SCHEMA = ("host string, ix long, iy long, mass double, "
                   "alat double, alon double")

_BUCKET_KEEP_SCHEMA = "host string, bx long, by long"


def _prune_kernel(cfg: EngineConfig, quant: bool = False):
    """Per-host distributed twin of _kde_from_grid's threshold-aware bucket
    prune, in ONE pass over the host's (already groupBy-merged) coarse
    buckets: 3x3 neighborhood sums (sorted-key searchsorted, same
    arithmetic as the in-kernel prune), threshold at kde_time_threshold_s,
    1-bucket dilation.  Emits the dilated candidate bucket keys — the old
    explode9 -> agg -> filter -> explode9 -> distinct chain spent ~3 extra
    shuffles of 9x-exploded rows to compute exactly this set."""
    import pyarrow as pa

    thr = cfg.kde_time_threshold_s * (QUANT_MASS_SCALE if quant
                                      else FLOAT_MASS_SCALE)

    def kernel(run):
        bx = run["bx"].to_numpy()
        by = run["by"].to_numpy()
        bm = run["bm"].to_numpy()
        key = (bx << np.int64(32)) ^ (by & np.int64(0xFFFFFFFF))
        order = np.argsort(key, kind="stable")  # keys unique (post-groupBy)
        ucb, cmass = key[order], bm[order]
        cbx = ucb >> np.int64(32)
        cby = ((ucb & np.int64(0xFFFFFFFF)) << np.int64(32)) >> np.int64(32)
        nbh = np.zeros(len(ucb))
        for dbx in (-1, 0, 1):
            for dby in (-1, 0, 1):
                nkey = ((cbx + dbx) << np.int64(32)) \
                    ^ ((cby + dby) & np.int64(0xFFFFFFFF))
                pos = np.searchsorted(ucb, nkey)
                pos = np.clip(pos, 0, len(ucb) - 1)
                hit = ucb[pos] == nkey
                np.add.at(nbh, pos[hit], cmass[np.where(hit)[0]])
        cand = ucb[nbh >= thr]
        if len(cand) == 0:
            return None
        cdx = cand >> np.int64(32)
        cdy = ((cand & np.int64(0xFFFFFFFF)) << np.int64(32)) >> np.int64(32)
        dil = np.unique(np.concatenate(
            [((cdx + a) << np.int64(32)) ^ ((cdy + b) & np.int64(0xFFFFFFFF))
             for a in (-1, 0, 1) for b in (-1, 0, 1)]))
        dbx = dil >> np.int64(32)
        dby = ((dil & np.int64(0xFFFFFFFF)) << np.int64(32)) >> np.int64(32)
        return pa.record_batch(
            [pa.repeat(run["host"][0], len(dil)), pa.array(dbx),
             pa.array(dby)], names=["host", "bx", "by"])

    return kernel


def _bin_stream(cfg: EngineConfig, quant: bool = False):
    """mapInArrow kernel for the O(sites) phase of the KDE, over ARBITRARY
    partitions (no pre-shuffle): per batch, interpolate every segment into
    sites, project into the host-local frame (per-site anchors ride on the
    row), bin to grid cells, and emit per-(host, cell) partial masses.

    Fully vectorized across hosts within a batch: host strings are
    dictionary-encoded and the dictionary code is packed into the cell key
    (code << 46 | (ix+2^22) << 23 | (iy+2^22)), so one np.unique/bincount
    bins the whole batch.  |x|,|y| <= 2*pi*R ~ 40,075 km < 2^22 * 12.5 m,
    and a batch holds < 2^17 distinct hosts, so the packing is collision-
    free."""
    import pyarrow as pa

    cell = cfg.grid_cell_m
    step = cfg.interpolation_step_m
    OFF = np.int64(1 << 22)
    M23 = np.int64((1 << 23) - 1)
    schema = pa.schema([("host", pa.string()), ("ix", pa.int64()),
                        ("iy", pa.int64()), ("mass", pa.float64()),
                        ("alat", pa.float64()), ("alon", pa.float64())])

    def stream(batches):
        # Coalesce input batches (Spark's Arrow default is 10k rows) to
        # ~256k rows before binning: one np.unique per big batch dedups
        # cells ~25x better, so the partial-mass shuffle shrinks by the
        # same factor and per-batch kernel overhead amortizes.
        buf: list = []
        buffered = 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            buf.append(rb)
            buffered += rb.num_rows
            if buffered >= 262_144:
                yield from _bin_table(pa.Table.from_batches(buf))
                buf, buffered = [], 0
        if buf:
            yield from _bin_table(pa.Table.from_batches(buf))

    def _bin_table(tbl):
        ndt = tbl["next_dt_s"].to_numpy(zero_copy_only=False)
        seg = ~np.isnan(ndt)
        if not bool(seg.any()):
            return
        denc = tbl["host"].combine_chunks().dictionary_encode()
        codes = (denc.indices.to_numpy(zero_copy_only=False)
                 .astype(np.int64))
        dic = denc.dictionary
        lat = tbl["lat"].to_numpy(zero_copy_only=False)
        lon = tbl["lon"].to_numpy(zero_copy_only=False)
        nlat = tbl["next_lat"].to_numpy(zero_copy_only=False)
        nlon = tbl["next_lon"].to_numpy(zero_copy_only=False)
        alat = tbl["alat"].to_numpy(zero_copy_only=False)
        alon = tbl["alon"].to_numpy(zero_copy_only=False)
        a_lat, a_lon = lat[seg], lon[seg]
        b_lat, b_lon, dt = nlat[seg], nlon[seg], ndt[seg]
        c_seg = codes[seg]
        an_lat, an_lon = alat[seg], alon[seg]
        # X3 twin — identical arithmetic to _sites_numpy
        d = geo.haversine_m(a_lat, a_lon, b_lat, b_lon)
        n = np.maximum(1, np.ceil(d / step)).astype(np.int64)
        total = int(n.sum())
        sidx = np.repeat(np.arange(len(n)), n)
        starts = np.concatenate([[0], np.cumsum(n)[:-1]])
        k = np.arange(total) - starts[sidx]
        frac = (k + 0.5) / n[sidx]
        slat = a_lat[sidx] + frac * (b_lat - a_lat)[sidx]
        slon = a_lon[sidx] + frac * (b_lon - a_lon)[sidx]
        mass = (dt / n)[sidx]
        # site-level snap BEFORE any accumulation — identical per-site
        # values to kde_locations_numpy's, so partial-mass sums merge to
        # the wholehost totals exactly (see FLOAT_MASS_SCALE note)
        if quant:
            mass = np.floor(mass * QUANT_MASS_SCALE)
        else:
            mass = np.round(mass * FLOAT_MASS_SCALE)
        x, y = geo.equirect_project(slat, slon,
                                    an_lat[sidx], an_lon[sidx])
        ix = np.floor(x / cell).astype(np.int64)
        iy = np.floor(y / cell).astype(np.int64)
        key = ((c_seg[sidx] << np.int64(46))
               | ((ix + OFF) << np.int64(23)) | (iy + OFF))
        uk, inv = np.unique(key, return_inverse=True)
        m0 = np.bincount(inv, weights=mass)
        ucode = (uk >> np.int64(46)).astype(np.int32)
        uix = ((uk >> np.int64(23)) & M23) - OFF
        uiy = (uk & M23) - OFF
        alat_by = np.empty(len(dic))
        alon_by = np.empty(len(dic))
        alat_by[codes] = alat          # constant per host
        alon_by[codes] = alon
        yield pa.record_batch([
            dic.take(pa.array(ucode, type=pa.int32())),
            pa.array(uix), pa.array(uiy), pa.array(m0),
            pa.array(alat_by[ucode]), pa.array(alon_by[ucode]),
        ], schema=schema)

    return stream


def _grid_kernel(cfg: EngineConfig, quant: bool = False):
    """Per-host A2(smooth)-A5 on the host's pruned partial-mass rows:
    merges per-chunk partials itself (sorted np.unique + bincount — one
    kernel instead of a groupBy(host, ix, iy) merge shuffle followed by a
    groupBy(host) shuffle), then runs _kde_from_grid — O(cells),
    independent of point count.  Rows are lexsorted first so every float
    accumulation runs in a deterministic order regardless of shuffle
    arrival order."""
    def kernel(run):
        ix = run["ix"].to_numpy()
        iy = run["iy"].to_numpy()
        m = run["mass"].to_numpy()
        order = np.lexsort((m, iy, ix))
        ix, iy, m = ix[order], iy[order], m[order]
        key = (ix << np.int64(23)) | (iy + np.int64(1 << 22))
        uk, inv = np.unique(key, return_inverse=True)
        m0 = np.bincount(inv, weights=m)
        uix = uk >> np.int64(23)
        uiy = (uk & np.int64((1 << 23) - 1)) - np.int64(1 << 22)
        alat, alon = run["alat"][0].as_py(), run["alon"][0].as_py()
        if quant:
            la, lo, dw, nc = _kde_from_grid_quant(uix, uiy, m0, alat, alon,
                                                  cfg)
        else:
            la, lo, dw, nc = _kde_from_grid(uix, uiy, m0, alat, alon, cfg,
                                            scale=FLOAT_MASS_SCALE)
        return _locations_batch(run, la, lo, dw, nc)

    return kernel


def detect_locations(points: DataFrame, cfg: EngineConfig = DEFAULT,
                     strategy: str = "auto",
                     n_points_hint: int | None = None,
                     quant: bool = False) -> DataFrame:
    """A2-A5: geopoints (from trace_prep.prep_points) -> locations DF.

    Strategy (cost-based, like Spark's own join-strategy pick): the
    chunk-parallel path costs ~12 extra stages of scheduling overhead that
    dominate below ~1M points, where the whole-host kernel (one exchange,
    one stage) is strictly faster AND skew-safe (the biggest host is tiny).
    ``auto`` picks whole-host when ``n_points_hint`` (a count the caller
    already has, e.g. from a persisted upstream) is under
    cfg.kde_chunked_min_points; with no hint it assumes scale and goes
    chunk-parallel.  Both paths are parity-tested to 1e-9.

    Chunk-parallel shape (the whole-host variant is kept above as the
    parity oracle):

      1. per-host anchor = coords of the min-seq point (tiny agg, joined
         back — AQE broadcasts it at bench scale; at cluster scale it is a
         plain equi-join on host);
      2. `_bin_stream` (mapInArrow, NO pre-shuffle): interpolate + project
         + bin each arbitrary partition into per-(host, cell) partial
         masses — the O(sites) work, embarrassingly parallel, so the Zipf
         mega-host spreads across all cores instead of serializing;
      3. a distributed twin of the kernel's threshold-aware bucket prune
         drops ~95% of corridor cells before any wide shuffle (see inline
         comment — provably exact): `_prune_kernel` per host over the
         tiny coarse-bucket table, then a semi-join;
      4. `_grid_kernel` per host merges the surviving partials (sorted
         unique+bincount) and runs smoothing/threshold/clustering on the
         OCCUPIED-CELL grid — orders of magnitude smaller than the point
         stream (the corridor-heavy mega-host at 8M docs is ~1M cells vs
         ~100M sites).

    Both per-host kernels run as repartition(host) + partition sort +
    mapInArrow over host runs (keyruns.key_run_stream): one exchange each,
    as a grouped pandas apply would take, but no per-group pandas frame.

    Float note: site mass is snapped to integer MICROSECONDS at the site
    level in BOTH kernels (FLOAT_MASS_SCALE), so every cell-mass
    accumulation is an exact-integer sum and cross-chunk merge order
    cannot matter; _kde_from_grid then canonically re-sorts its input
    cells.  Chunked therefore equals wholehost BYTE-exactly in float mode
    too (parity test asserts full equality), matching the quant-mode
    guarantee."""
    if strategy == "auto":
        strategy = ("wholehost"
                    if (n_points_hint is not None
                        and n_points_hint < cfg.kde_chunked_min_points)
                    else "chunked")
    if strategy == "wholehost":
        return detect_locations_wholehost(points, cfg, quant=quant)
    anchors = (points.groupBy("host")
               .agg(F.min_by("lat", "seq").alias("alat"),
                    F.min_by("lon", "seq").alias("alon")))
    cols = ["host", "subset_id", "lat", "lon",
            "next_lat", "next_lon", "next_dt_s"]
    pts = points.select(*cols).join(anchors, "host")
    # Cluster partitions by (host, subset_id % salt_buckets): a host's
    # corridor cells repeat across its subsets, so host-homogeneous batches
    # dedup them at the bin step (arbitrary partitions re-emit the same
    # cells from every chunk and bloat the merge shuffle ~10x), while the
    # pmod salt still spreads the Zipf mega-host over salt_buckets parallel
    # tasks instead of serializing it.
    pts = pts.repartition(F.col("host"),
                          F.pmod(F.col("subset_id"), F.lit(cfg.salt_buckets)))
    partial = pts.mapInArrow(_bin_stream(cfg, quant=quant),
                             schema=_PARTIAL_SCHEMA)
    partial = partial.persist()  # read twice: bucket masses + kept cells
    # Distributed twin of _kde_from_grid's threshold-aware prune, applied
    # BEFORE the merge shuffle: only cells inside the 1-bucket dilation of
    # coarse buckets whose 3x3 neighborhood holds >= kde_time_threshold_s
    # can influence a super-threshold output cell (stencil sums to 1).  On
    # the 8M-doc corpus this drops the 20M corridor cells to ~1M around
    # real stops; the kernel's internal prune re-derives the SAME candidate
    # set from the kept cells (all neighbors of a candidate bucket are in
    # the dilation, so its neighborhood mass is complete), hence the result
    # is exactly the unpruned one.  The dilated-candidate table is tiny —
    # AQE turns the semi-join into a broadcast at runtime.
    r_cells = int(np.ceil(3.0 * cfg.kernel_bandwidth_m / cfg.grid_cell_m))
    bshift = int(max(4, int(np.ceil(np.log2(r_cells + 1)))))
    part_b = (partial
              .withColumn("bx", F.shiftright("ix", bshift))
              .withColumn("by", F.shiftright("iy", bshift)))
    # coarse-bucket masses: keyed by (host, bx, by) — NOT host — so the
    # Zipf mega-host's buckets spread across reducers (map-side combine
    # bounds the shuffle); the result is tiny (occupied 200 m buckets)
    bucket = part_b.groupBy("host", "bx", "by").agg(F.sum("mass").alias("bm"))
    # neighborhood + threshold + dilation in ONE per-host kernel over the
    # tiny bucket table (see _prune_kernel); the dilated-candidate output
    # is tiny, so AQE turns the semi-join into a runtime broadcast
    dil = (bucket.repartition(F.col("host")).sortWithinPartitions("host")
           .mapInArrow(key_run_stream(["host"],
                                      _prune_kernel(cfg, quant=quant)),
                       schema=_BUCKET_KEEP_SCHEMA))
    kept = (part_b.join(dil, ["host", "bx", "by"], "left_semi")
            .drop("bx", "by"))
    return (kept.repartition(F.col("host")).sortWithinPartitions("host")
            .mapInArrow(key_run_stream(["host"],
                                       _grid_kernel(cfg, quant=quant)),
                        schema=LOCATION_SCHEMA))
