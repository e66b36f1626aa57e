"""Numpy geometry kernels used inside Arrow-batched UDFs.

Geometry representation on the wire (FIXTURES.md §B): a mesh is a flat
``coords`` float64 buffer of xyz triples plus ``ring_offsets`` — vertex-count
prefix offsets, one surface per ``[offsets[i], offsets[i+1])`` slice. This
keeps Arrow transfer flat (no ragged nesting) and lets kernels run as pure
numpy over whole batches.

Property semantics transcribe the reference formulas exactly
(reference: object_properties.py — see per-function citations), including
its quirks:

- per-axis coordinate pools are *unique value* lists
  (object_properties.py:28-37 ``np.unique`` on each axis separately), so
  e.g. ``axes_symmetry`` is the std over unique coordinate values;
- ``convex_hull_area`` is the scipy 2-D hull ``.area`` which for 2-D inputs
  is the hull *perimeter* (object_properties.py:217-220);
- ``area``/``perimeter`` are floored at 1 (object_properties.py:107;
  perimeter only on the max-z fallback path, :180-182);
- eigen decomposition uses the sample covariance (``np.cov`` ddof=1,
  object_properties.py:274) and ``np.linalg.eigh`` ascending order;
- ``num_floors`` counts distinct z values (object_properties.py:241-242);
- vertices are deduplicated rows (``np.unique(axis=0)``, pipelines.py:137-139)
  and the centroid is the mean of unique vertices (pipelines.py:132-135).
"""

from __future__ import annotations

import math

import numpy as np

from ..config import OBJECT_PROPERTIES

__all__ = [
    "unique_vertices",
    "convex_hull_2d_perimeter",
    "convex_hull_3d_volume",
    "mesh_area",
    "mesh_volume",
    "mesh_perimeter",
    "compute_properties_object",
    "compute_properties_batch",
    "centroid_of_mesh",
    "OBJECT_PROPERTIES",
]


# --------------------------------------------------------------------------
# basic mesh helpers
# --------------------------------------------------------------------------


def surfaces_of(coords: np.ndarray, offsets: np.ndarray):
    """Yield (m_i, 3) vertex arrays, one per surface."""
    pts = coords.reshape(-1, 3)
    for i in range(len(offsets) - 1):
        yield pts[offsets[i] : offsets[i + 1]]


def unique_vertices(coords: np.ndarray) -> np.ndarray:
    """Row-deduplicated, lexicographically sorted vertices
    (pipelines.py:137-139 semantics)."""
    return np.unique(coords.reshape(-1, 3), axis=0)


def centroid_of_mesh(coords: np.ndarray) -> np.ndarray:
    """Mean of unique vertices (pipelines.py:132-135)."""
    return unique_vertices(coords).mean(axis=0)


# --------------------------------------------------------------------------
# area / volume — fan triangulation, vectorized across a whole batch
# --------------------------------------------------------------------------


def _fan_triangles(coords: np.ndarray, offsets: np.ndarray):
    """Vectorized fan-triangulation index arrays for one mesh.

    For each surface with m >= 3 vertices, triangles are
    (v0, v_i, v_{i+1}) for i in 1..m-2 (object_properties.py:137-139).
    Returns (a_idx, b_idx, c_idx) into ``coords.reshape(-1,3)``.
    """
    counts = np.diff(offsets)
    valid = counts >= 3
    if not valid.any():
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    starts = offsets[:-1][valid]
    m = counts[valid]
    tri_counts = m - 2
    total = int(tri_counts.sum())
    # triangle index within its surface: 0..tri_counts-1
    surf_rep = np.repeat(np.arange(len(starts)), tri_counts)
    within = np.arange(total) - np.repeat(
        np.cumsum(tri_counts) - tri_counts, tri_counts
    )
    a = np.repeat(starts, tri_counts)
    b = a + within + 1
    c = a + within + 2
    del surf_rep
    return a, b, c


def mesh_area(coords: np.ndarray, offsets: np.ndarray) -> float:
    """Total surface area via triangle fans, 0.5*||cross||
    (object_properties.py:109-143). No floor applied here."""
    pts = coords.reshape(-1, 3)
    a, b, c = _fan_triangles(coords, offsets)
    if len(a) == 0:
        return 0.0
    n = np.cross(pts[b] - pts[a], pts[c] - pts[a])
    return float(0.5 * np.linalg.norm(n, axis=1).sum())


def mesh_volume(coords: np.ndarray, offsets: np.ndarray) -> float:
    """|Σ signed tetra volumes| over fan triangles
    (object_properties.py:203-215)."""
    pts = coords.reshape(-1, 3)
    a, b, c = _fan_triangles(coords, offsets)
    if len(a) == 0:
        return 0.0
    v = np.einsum("ij,ij->i", pts[a], np.cross(pts[b], pts[c])).sum() / 6.0
    return float(abs(v))


def mesh_perimeter(coords: np.ndarray, offsets: np.ndarray) -> float:
    """Perimeter of the first surface whose vertices all sit at min z;
    fallback: first surface at max z, floored at 1
    (object_properties.py:145-186). Perimeter closes the ring (% len)."""
    pts = coords.reshape(-1, 3)
    z = pts[:, 2]
    min_z, max_z = z.min(), z.max()

    def ring_perimeter(ref: float) -> float:
        for i in range(len(offsets) - 1):
            s = pts[offsets[i] : offsets[i + 1]]
            if len(s) and np.all(s[:, 2] == ref):
                d = s - np.roll(s, -1, axis=0)
                return float(np.linalg.norm(d, axis=1).sum())
        return 0.0

    p = ring_perimeter(min_z)
    if p == 0.0:
        p = max(ring_perimeter(max_z), 1.0)
    return p


# --------------------------------------------------------------------------
# convex hulls (scipy is absent in this environment — hand-rolled numpy)
# --------------------------------------------------------------------------


def convex_hull_2d(points: np.ndarray, assume_unique_sorted: bool = False) -> np.ndarray:
    """Andrew monotone-chain 2-D convex hull; returns hull vertices CCW.

    ``assume_unique_sorted``: caller already holds ``np.unique(points[:, :2],
    axis=0)`` (row-deduplicated, lexicographically sorted) — skip the
    per-call sort (the batch kernel derives it from one global lexsort)."""
    pts = points[:, :2] if assume_unique_sorted else np.unique(points[:, :2], axis=0)
    if len(pts) <= 2:
        return pts

    def half(pts_sorted):
        out = []
        for p in pts_sorted:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def convex_hull_2d_perimeter(
    points: np.ndarray, assume_unique_sorted: bool = False
) -> float:
    """Perimeter of the 2-D hull — matches scipy ``ConvexHull(2d).area``
    (object_properties.py:217-220 uses that as 'convex_hull_area')."""
    hull = convex_hull_2d(points, assume_unique_sorted=assume_unique_sorted)
    if len(hull) <= 1:
        return 0.0
    if len(hull) == 2:
        return float(2.0 * np.linalg.norm(hull[1] - hull[0]))
    d = hull - np.roll(hull, -1, axis=0)
    return float(np.linalg.norm(d, axis=1).sum())


HULL_GRID = 1 << 30
"""Quantization grid for the 3-D hull: vertices are snapped to a relative
2**-30 grid (centered at the *pitch-snapped* mean of the unique vertices,
scaled by the max absolute centered coordinate) before the hull is built.
This IS the operator's semantic — the hull volume of the snapped points,
computed with EXACT integer predicates — so the result is deterministic and
(up to the ~1e-9 relative snap) matches
``scipy.spatial.ConvexHull(pts).volume`` (reference
object_properties.py:222-224).  Exactness kills the entire epsilon-tuning
bug class the previous float hull had (round-2 verdict G8: scale-dependent
tolerance clamps broke V(s*X) = s^3 V(X) by 23% on near-coplanar inputs;
coplanar facades are the NORM in building meshes).
The independent test oracle (oracle/reference_oracle.py::hull_3d_volume)
uses the same documented grid with a brute-force facet-enumeration hull, so
engine and oracle agree BIT-IDENTICALLY — no float-tolerance blind spot.

Centering spec (round-5 fix for the r4 hypothesis counterexample): the
centering offset is ``np.rint(mean / pitch) * pitch`` with
``pitch = 2**(floor(log2(max|coord|)) - 47)`` — an exactly-representable
multiple of a power of two (the rounded integer is < 2**49, well inside the
53-bit mantissa).  With the RAW float mean, translating the input by t
changed the centered coordinates by the mean's own summation error
(~eps·(|coords|+|t|)), which for large |t|/extent exceeds half a lattice
cell and snapped points into DIFFERENT cells — hull volume then jittered by
up to ~cell·sqrt(3)·A_hull under pure translation (hypothesis-pinned
counterexample: a 58-unit sliver shifted by +1.0 moved 1.18e-6).  Snapping
the offset to a pitch ~2**5 times larger than that summation error makes
the offset itself translation-covariant for pitch-multiple shifts, and the
residual volume jitter under ANY float translation is bounded by the
Steiner/Hausdorff bound  |dV| <= d·A + O(d²),  d = sqrt(3)·(cell0+cell1) —
which is exactly the tolerance the property test asserts
(tests/test_geometry_properties.py::test_hull_volume_translation_invariant).
Note invariance is *bounded*, not exact: ``p + t`` is itself rounded by the
caller before the operator ever sees it, so no centering rule can give
bit-equality for arbitrary float shifts."""


def _snap_center(m: np.ndarray, coord_max: float) -> np.ndarray:
    """Round the centering offset to the documented power-of-two pitch.

    Part of the HULL_GRID quantization spec (see above).  ``coord_max`` is
    ``max|coords|`` over the unique vertices (> 0, finite).  The result is
    exact: each component is (integer < 2**49) * 2**e.
    """
    e = math.floor(math.log2(coord_max)) - 47
    if e < -1074:  # keep the pitch a representable denormal
        e = -1074
    pitch = math.ldexp(1.0, e)
    return np.rint(m / pitch) * pitch


def quantize_hull_points(points: np.ndarray, assume_unique: bool = False):
    """Snap unique vertices to the HULL_GRID integer lattice (see HULL_GRID).

    Returns ``(q, cell)`` where ``q`` is an (m,3) int64 array of lattice
    coordinates (sorted unique) and ``cell`` the lattice pitch in input
    units, or ``(None, 0.0)`` when fewer than 4 distinct lattice points
    remain (volume is 0 by definition).  Shared spec between the engine and
    the numpy oracle — the quantization is part of the operator semantics.
    ``assume_unique`` skips the initial dedup when the caller already holds
    ``np.unique(pts, axis=0)`` (the snap itself is unaffected: mean and
    scale are computed over the same unique set either way).
    """
    pts = np.asarray(points, dtype=np.float64)
    if not assume_unique:
        pts = np.unique(pts, axis=0)
    if len(pts) < 4:
        return None, 0.0
    coord_max = float(np.abs(pts).max())
    if not (coord_max > 0.0 and np.isfinite(coord_max)):
        return None, 0.0
    m = pts.mean(axis=0)
    if not np.all(np.isfinite(m)):
        return None, 0.0
    pts = pts - _snap_center(m, coord_max)
    scale = float(np.abs(pts).max())
    if not (scale > 0.0 and np.isfinite(scale)):
        return None, 0.0
    q = np.rint(pts * (float(HULL_GRID) / scale)).astype(np.int64)
    q = np.unique(q, axis=0)
    if len(q) < 4:
        return None, 0.0
    return q, scale / float(HULL_GRID)


# Float fast-path guard for the visibility predicate sign(n.p - d) where n, d
# come from EXACT integer face planes stored as float64 and p is an exact
# lattice point (|p| <= 2^30, exactly representable).  Error sources:
#   - storing exact n_i (<= 2^63) as float64: rel 2^-53 -> abs <= |n_i| 2^-53
#   - 3 products n_i * p_i (each <= |n_i| 2^30) + 3 adds: rel ~ 6 * 2^-53
# Total |err| <= sum|n_i| * 2^30 * 2^-50  +  |d| * 2^-52  (conservatively).
# Guards below carry a >= 2^6 safety margin over that bound.
_G_N = 2.0 ** -14    # visibility guard: multiplies sum|n_i|
_G_D = 2.0 ** -45    # visibility guard: multiplies |d|
_G_A = 2.0 ** 46     # visibility guard: absolute term — float-cross normals
                     # carry up to ~2^11 absolute error per component and the
                     # float d up to ~2^44 (products reach 2^93); 4x margin
_G_S_ABS = 2.0 ** 48  # orientation guard (|r4| <= 2^32 amplifies the above)
_G_S_N = 2.0 ** -12
_G_S_D = 2.0 ** -43


def _exact_plane(P, a, b, c):
    """Exact integer plane of triangle (a, b, c): returns (nx, ny, nz, d)
    with n = (P[b]-P[a]) x (P[c]-P[a]), d = n . P[a]."""
    ax, ay, az = P[a]
    bx, by, bz = P[b]
    cx, cy, cz = P[c]
    ux, uy, uz = bx - ax, by - ay, bz - az
    vx, vy, vz = cx - ax, cy - ay, cz - az
    nx = uy * vz - uz * vy
    ny = uz * vx - ux * vz
    nz = ux * vy - uy * vx
    return nx, ny, nz, nx * ax + ny * ay + nz * az


def _hull_vol6_exact(q: np.ndarray) -> int:
    """EXACT 6x volume (lattice units) of the convex hull of integer lattice
    points, via beneath-beyond incremental insertion with exact integer
    predicates.

    Fast path: per-point visibility is ONE vectorized float matvec over a
    (F,5) face array [nx,ny,nz,d,guard]; only values inside the guard band
    (coplanar-heavy building meshes hit it often) are resolved with exact
    integer arithmetic, and each face's exact plane is computed lazily at
    most once.  All sign decisions are therefore exact, so:

    - coplanar degeneracies are handled soundly: a point exactly ON a face
      plane is never "visible" through it (strict > 0), which can only add
      coplanar facet triangles — the surface stays a closed,
      outward-oriented 2-cycle on the hull boundary, and the divergence sum
      is still the exact volume;
    - the result is identical for any insertion order.

    Returns 0 for collinear/coplanar inputs.
    """
    P = [(int(x), int(y), int(z)) for x, y, z in q]
    n = len(P)
    pf = q.astype(np.float64)

    # ---- initial simplex: float heuristics pick candidates, exact checks
    # confirm non-degeneracy (any non-degenerate simplex yields the same
    # final hull, so heuristic choice does not affect the result).
    d0 = ((pf - pf[0]) ** 2).sum(axis=1)
    i1 = int(d0.argmax())           # distinct by construction (unique rows)
    u = pf[i1] - pf[0]
    cr = np.cross(np.broadcast_to(u, pf.shape), pf - pf[0])
    i2 = int((cr ** 2).sum(axis=1).argmax())
    nx, ny, nz, d = _exact_plane(P, 0, i1, i2)
    if nx == 0 and ny == 0 and nz == 0:
        # float pick degenerate — exact scan for ANY non-collinear point
        i2 = -1
        for j in range(n):
            nx, ny, nz, d = _exact_plane(P, 0, i1, j)
            if nx or ny or nz:
                i2 = j
                break
        if i2 < 0:
            return 0
    nfa = np.array([float(nx), float(ny), float(nz)])
    hpl = np.abs(pf @ nfa - float(d))
    i3 = int(hpl.argmax())
    x3, y3, z3 = P[i3]
    h3 = nx * x3 + ny * y3 + nz * z3 - d
    if h3 == 0:
        i3 = -1
        for j in range(n):
            xj, yj, zj = P[j]
            h3 = nx * xj + ny * yj + nz * zj - d
            if h3 != 0:
                i3 = j
                break
        if i3 < 0:
            return 0                # all points coplanar

    # interior reference point: 4x the simplex centroid (exact integer);
    # strictly interior to every face plane of the growing hull, so the
    # orientation sign below is never 0 — the float path only decides it
    # outside the _G_S guard, the exact path otherwise.
    r4 = (
        P[0][0] + P[i1][0] + P[i2][0] + P[i3][0],
        P[0][1] + P[i1][1] + P[i2][1] + P[i3][1],
        P[0][2] + P[i1][2] + P[i2][2] + P[i3][2],
    )
    r4f = (float(r4[0]), float(r4[1]), float(r4[2]))

    def face(a: int, b: int, c: int) -> list:
        """One oriented face as a mutable list
        [a, b, c, nxf, nyf, nzf, df, guard, exact_plane_or_None].
        Float plane from exact-as-float coords (diffs <= 2^31 exact; cross
        products <= 2^62 round — the _G_A absolute guard term covers that);
        orientation against the interior ref decided in float outside the
        _G_S guard, exactly inside it.  The exact integer plane is computed
        lazily (slot 8) the first time a visibility test lands in the guard
        band — measured: building meshes are coplanar-heavy, but most faces
        never need it."""
        ax, ay, az = P[a]
        bx, by, bz = P[b]
        cx, cy, cz = P[c]
        ux, uy, uz = float(bx - ax), float(by - ay), float(bz - az)
        vx, vy, vz = float(cx - ax), float(cy - ay), float(cz - az)
        nx = uy * vz - uz * vy
        ny = uz * vx - ux * vz
        nz = ux * vy - uy * vx
        d = nx * ax + ny * ay + nz * az
        s = nx * r4f[0] + ny * r4f[1] + nz * r4f[2] - 4.0 * d
        sa = abs(nx) + abs(ny) + abs(nz)
        if abs(s) <= _G_S_ABS + _G_S_N * sa + _G_S_D * abs(d):
            ex = _exact_plane(P, a, b, c)
            if ex[0] * r4[0] + ex[1] * r4[1] + ex[2] * r4[2] - 4 * ex[3] > 0:
                b, c = c, b
                ex = (-ex[0], -ex[1], -ex[2], -ex[3])
            nx, ny, nz, d = float(ex[0]), float(ex[1]), float(ex[2]), float(ex[3])
            sa = abs(nx) + abs(ny) + abs(nz)
            return [a, b, c, nx, ny, nz, d,
                    _G_A + _G_N * sa + _G_D * abs(d), ex]
        if s > 0:
            b, c = c, b
            nx, ny, nz, d = -nx, -ny, -nz, -d
        return [a, b, c, nx, ny, nz, d, _G_A + _G_N * sa + _G_D * abs(d), None]

    faces = [
        face(0, i1, i2),
        face(0, i1, i3),
        face(0, i2, i3),
        face(i1, i2, i3),
    ]
    used = {0, i1, i2, i3}
    # vectorized prefilter: a point strictly inside ALL four simplex face
    # planes (beyond each guard) is interior to the initial tetrahedron and
    # can never become a hull vertex — drop it before the scalar loop.
    # Guard-band points (exactly on a facade plane — the norm in building
    # meshes) are conservatively kept; dropping is sound only when the
    # float test is provably on the inside.
    NF4 = np.array([[f[3], f[4], f[5]] for f in faces])
    D4 = np.array([f[6] for f in faces])
    G4 = np.array([f[7] for f in faces])
    inside = ((pf @ NF4.T - D4) < -G4).all(axis=1)
    # farthest-first insertion: hull reaches its extremes early, so most
    # later points fail every visibility test immediately (pure heuristic —
    # exact predicates make the final hull order-independent).
    order = np.argsort(-(pf ** 2).sum(axis=1), kind="stable")
    for pi in order:
        pi = int(pi)
        if pi in used or inside[pi]:
            continue
        px, py, pz = P[pi]
        pxf, pyf, pzf = float(px), float(py), float(pz)
        # pass 1: only COLLECT visible faces — most points see none, and
        # skipping the keep-list rebuild for them saves ~1k list appends
        # per object (measured round 3)
        visible = []
        for f in faces:
            v = f[3] * pxf + f[4] * pyf + f[5] * pzf - f[6]
            if v > f[7]:
                visible.append(f)
            elif v >= -f[7]:
                # guard band: resolve the sign exactly (lazy cached plane)
                ex = f[8]
                if ex is None:
                    ex = _exact_plane(P, f[0], f[1], f[2])
                    f[8] = ex
                if ex[0] * px + ex[1] * py + ex[2] * pz - ex[3] > 0:
                    visible.append(f)
        if not visible:
            continue
        used.add(pi)
        vis_ids = {id(f) for f in visible}
        keep = [f for f in faces if id(f) not in vis_ids]
        # horizon: undirected edges appearing exactly once among visible
        edge_count: dict = {}
        for a, b, c, *_ in visible:
            for e0, e1 in ((a, b), (b, c), (c, a)):
                k = (e0, e1) if e0 < e1 else (e1, e0)
                edge_count[k] = edge_count.get(k, 0) + 1
        for a, b, c, *_ in visible:
            for e0, e1 in ((a, b), (b, c), (c, a)):
                k = (e0, e1) if e0 < e1 else (e1, e0)
                if edge_count[k] == 1:
                    keep.append(face(e0, e1, pi))
        faces = keep

    # exact divergence sum over the closed outward-oriented surface —
    # kept exact (python ints) so the engine value is BIT-IDENTICAL to the
    # independent oracle's facet-enumeration hull on the same lattice.
    vol6 = 0
    for a, b, c, *_ in faces:
        ax, ay, az = P[a]
        bx, by, bz = P[b]
        cx, cy, cz = P[c]
        # (a,b,c) was stored post-orientation, so the triple is outward.
        vol6 += (
            ax * (by * cz - bz * cy)
            + ay * (bz * cx - bx * cz)
            + az * (bx * cy - by * cx)
        )
    return vol6 if vol6 >= 0 else -vol6


def convex_hull_3d_volume(points: np.ndarray, assume_unique: bool = False) -> float:
    """Volume of the 3-D convex hull of the HULL_GRID-snapped vertices
    (matches ``scipy.spatial.ConvexHull(pts).volume`` to ~1e-9 relative;
    reference object_properties.py:222-224).

    Exact integer predicates on the snap lattice (see HULL_GRID) make the
    result deterministic and scale/translation/permutation invariant by
    construction; degenerate (collinear/coplanar) inputs return 0.0 (the
    reference would raise — our engine defines 0).  O(n^2) worst case;
    building meshes have tens to ~a hundred unique vertices.
    """
    q, cell = quantize_hull_points(points, assume_unique=assume_unique)
    if q is None:
        return 0.0
    return float(_hull_vol6_exact(q)) / 6.0 * cell ** 3


# --------------------------------------------------------------------------
# the 25-property kernel
# --------------------------------------------------------------------------


def compute_properties_object(
    coords: np.ndarray, offsets: np.ndarray, log1p: bool = True
) -> dict[str, float]:
    """All 25 properties for one mesh; reference formulas cited per block."""
    pts = coords.reshape(-1, 3)
    verts = np.unique(pts, axis=0)
    ux = np.unique(pts[:, 0])
    uy = np.unique(pts[:, 1])
    uz = np.unique(pts[:, 2])

    out: dict[str, float] = {}

    # bounding boxes (object_properties.py:72-78)
    out["bounding_box_width"] = float(ux.max() - ux.min())
    out["bounding_box_length"] = float(uy.max() - uy.min())

    # area / perimeter / volume with reference floors
    raw_area = mesh_area(coords, offsets)
    area = max(raw_area, 1.0)  # object_properties.py:107
    perimeter = mesh_perimeter(coords, offsets)
    volume = mesh_volume(coords, offsets)
    out["area"] = area
    out["perimeter"] = perimeter
    out["volume"] = volume

    # perimeter_ind = 2*sqrt(pi*area)/perimeter (object_properties.py:188-201)
    out["perimeter_ind"] = 2.0 * math.sqrt(math.pi * area) / perimeter

    # hulls (object_properties.py:217-224)
    hull2d_perim = convex_hull_2d_perimeter(verts)
    hull3d_vol = convex_hull_3d_volume(verts)
    out["convex_hull_area"] = hull2d_perim
    out["convex_hull_volume"] = hull3d_vol

    # centroid distance (object_properties.py:226-229, pipelines.py:132-135)
    centroid = verts.mean(axis=0)
    out["ave_centroid_distance"] = float(
        np.linalg.norm(verts - centroid, axis=1).mean()
    )

    # heights (object_properties.py:231-242)
    out["height_diff"] = float(uz.max() - uz.min())
    out["num_floors"] = float(len(uz))

    # axes symmetry: mean of stds over *unique* coordinate values
    # (object_properties.py:244-248 on the :28-37 unique pools), ddof=0
    out["axes_symmetry"] = float(np.mean([ux.std(), uy.std(), uz.std()]))

    out["compactness_2d"] = area / hull2d_perim if hull2d_perim else float("inf")
    out["compactness_3d"] = volume / hull3d_vol if hull3d_vol else float("inf")
    out["density"] = area / perimeter

    # eigen features: sample covariance of unique vertices
    # (object_properties.py:265-282); eigh ascending.  Degenerate meshes
    # (<2 unique vertices — cov undefined) define nan instead of crashing:
    # one bad document must never kill a whole Arrow batch.
    # The covariance is built with EXACTLY the batch kernel's summation
    # order (bincount-style sequential sums, not np.cov's dgemm): on
    # rank-deficient vertex sets the smallest eigenvalue is pure rounding
    # noise and sqrt(max/min) amplifies a last-ulp difference into
    # nan-vs-inf-vs-finite divergence between the two kernels (found by
    # the hypothesis random-mesh test, round 4).
    if len(verts) >= 2:
        nvt = len(verts)
        vobj0 = np.zeros(nvt, dtype=np.int64)
        cent = np.array(
            [
                np.bincount(vobj0, weights=verts[:, d], minlength=1)[0]
                for d in range(3)
            ]
        ) / float(nvt)
        cen0 = verts - cent
        cov = np.empty((3, 3), dtype=np.float64)
        for i in range(3):
            for j in range(i, 3):
                cij = np.bincount(
                    vobj0, weights=cen0[:, i] * cen0[:, j], minlength=1
                )[0] / (nvt - 1.0)
                cov[i, j] = cov[j, i] = cij
        eigenvalues, eigenvectors = np.linalg.eigh(cov)
        with np.errstate(divide="ignore", invalid="ignore"):
            out["elongation"] = float(
                np.sqrt(eigenvalues[-1] / eigenvalues[0])
            )
    else:
        eigenvectors = None
        out["elongation"] = float("nan")

    out["shape_ind"] = perimeter / math.sqrt(4.0 * math.pi * area)
    out["hemisphericality"] = (
        3.0 * math.sqrt(2.0) * math.sqrt(math.pi) * volume / (area**1.5)
    )
    # fractality = 1 - ln(V)/(1.5 ln(A)) (object_properties.py:294-297);
    # reference raises on V<=0 or A==1 — engine defines nan for those.
    if volume > 0.0 and area != 1.0:
        out["fractality"] = 1.0 - math.log(volume) / (1.5 * math.log(area))
    else:
        out["fractality"] = float("nan")
    out["cubeness"] = 6.0 * volume ** (2.0 / 3.0) / area
    out["circumference"] = (
        4.0 * math.pi * (3.0 * volume / (4.0 * math.pi)) ** (2.0 / 3.0) / area
    )

    # PCA-aligned bbox (object_properties.py:80-98)
    if eigenvectors is not None:
        aligned = verts @ eigenvectors
        ext = aligned.max(axis=0) - aligned.min(axis=0)
        out["aligned_bounding_box_width"] = float(ext[0])
        out["aligned_bounding_box_length"] = float(ext[1])
        out["aligned_bounding_box_height"] = float(ext[2])
    else:
        out["aligned_bounding_box_width"] = float("nan")
        out["aligned_bounding_box_length"] = float("nan")
        out["aligned_bounding_box_height"] = float("nan")

    out["num_vertices"] = float(len(verts))

    if log1p:
        # log1p normalization (object_properties.py:63-65)
        for k in out:
            out[k] = float(np.log1p(out[k]))
    return out


#: objects per kernel slice in ``compute_properties_batch`` (see there)
PROPERTIES_CHUNK = 750


def compute_properties_batch(
    coords_list, offsets_list, log1p: bool = True,
) -> dict[str, np.ndarray]:
    """Property columns for a batch of meshes → {name: float64 array}.

    Processes the batch in ``PROPERTIES_CHUNK``-object slices: a slice that
    stays cache-resident across the kernel's ~30 vectorized passes, where
    a full 10k-object Arrow batch (~1.1M points) is memory-bandwidth-bound
    — and this host (like any oversubscribed executor) saturates DRAM
    bandwidth near 16 concurrent workers, so bandwidth-bound kernels
    anti-scale (BENCH.md environment note). Round-5 chunk lab (1.08M
    pages, featurize stage isolated): 750 beats the old 1500 by 10% at 16
    workers and 4% at 4 (251/110 s -> 242/99 s); 375 adds only 3% more at
    16 with no 4-core data — hence 750. Results are chunk-invariant (all
    reductions are per-object).
    

    Batch-vectorized (round-3): every reduction that the per-object kernel
    ran as a tiny numpy call (area/volume fans, coordinate pools, vertex
    dedup, covariance, PCA bbox) runs ONCE across the whole Arrow batch as
    a segment reduction (lexsort + bincount/reduceat over object ids) —
    per-call numpy dispatch on ~40-element arrays was the dominant cost,
    not FLOPs.  Only the exact convex hulls stay per-object (they are
    branchy integer geometry; see ``_hull_vol6_exact``).

    Semantics are identical to ``compute_properties_object`` (same
    reference formulas, object_properties.py citations there); summation
    ORDER differs (segment reductions), so values can drift ~1e-14
    relative — far below the 1e-6 rounding the driver oracle compares at.
    ``tests/test_geometry_properties.py`` asserts batch≡object parity.
    """
    chunk = PROPERTIES_CHUNK
    n = len(coords_list)
    if n > chunk:
        parts = [
            _properties_chunk(coords_list[i : i + chunk], offsets_list[i : i + chunk], log1p)
            for i in range(0, n, chunk)
        ]
        return {
            name: np.concatenate([p[name] for p in parts])
            for name in OBJECT_PROPERTIES
        }
    return _properties_chunk(coords_list, offsets_list, log1p)


def _properties_chunk(
    coords_list, offsets_list, log1p: bool
) -> dict[str, np.ndarray]:
    n = len(coords_list)
    out: dict[str, np.ndarray] = {
        name: np.empty(n, dtype=np.float64) for name in OBJECT_PROPERTIES
    }
    if n == 0:
        return out

    # ---- flat geometry: points + per-surface + per-object segment ids
    pts_counts = np.array([len(c) // 3 for c in coords_list], dtype=np.int64)
    allpts = np.concatenate(
        [np.asarray(c, dtype=np.float64) for c in coords_list]
    ).reshape(-1, 3)
    P = len(allpts)
    pstart = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(pts_counts, out=pstart[1:])
    pobj = np.repeat(np.arange(n), pts_counts)

    surf_per_obj = np.array([len(o) - 1 for o in offsets_list], dtype=np.int64)
    surf_counts = np.concatenate(
        [np.diff(np.asarray(o, dtype=np.int64)) for o in offsets_list]
    )
    surf_starts = (
        np.concatenate(
            [np.asarray(o, dtype=np.int64)[:-1] for o in offsets_list]
        )
        + np.repeat(pstart[:-1], surf_per_obj)
    )
    surf_obj = np.repeat(np.arange(n), surf_per_obj)

    allx, ally, allz = allpts[:, 0], allpts[:, 1], allpts[:, 2]

    # ---- bounding boxes / height (unique pools share extremes with raw)
    objxmin = np.minimum.reduceat(allx, pstart[:-1])
    objxmax = np.maximum.reduceat(allx, pstart[:-1])
    objymin = np.minimum.reduceat(ally, pstart[:-1])
    objymax = np.maximum.reduceat(ally, pstart[:-1])
    objzmin = np.minimum.reduceat(allz, pstart[:-1])
    objzmax = np.maximum.reduceat(allz, pstart[:-1])
    out["bounding_box_width"] = objxmax - objxmin
    out["bounding_box_length"] = objymax - objymin
    out["height_diff"] = objzmax - objzmin

    # ---- area / volume: one global fan triangulation
    valid = surf_counts >= 3
    vstarts_t = surf_starts[valid]
    m = surf_counts[valid]
    tric = m - 2
    total_t = int(tric.sum())
    a = np.repeat(vstarts_t, tric)
    within = np.arange(total_t) - np.repeat(np.cumsum(tric) - tric, tric)
    b = a + within + 1
    c = a + within + 2
    tri_obj = np.repeat(surf_obj[valid], tric)
    pa, pb, pc = allpts[a], allpts[b], allpts[c]
    cr = np.cross(pb - pa, pc - pa)
    raw_area = np.bincount(
        tri_obj, weights=0.5 * np.linalg.norm(cr, axis=1), minlength=n
    )
    v6 = np.einsum("ij,ij->i", pa, np.cross(pb, pc))
    volume = np.abs(np.bincount(tri_obj, weights=v6, minlength=n) / 6.0)
    area = np.maximum(raw_area, 1.0)  # object_properties.py:107
    out["area"] = area
    out["volume"] = volume

    # ---- perimeter: first all-at-min-z ring; fallback first all-at-max-z
    # ring floored at 1 (object_properties.py:145-186)
    smin = np.minimum.reduceat(allz, surf_starts)
    smax = np.maximum.reduceat(allz, surf_starts)
    # ring perimeter of EVERY surface (vectorized wrap-around edges)
    nxt = np.arange(P) + 1
    ends = surf_starts + surf_counts - 1
    nxt[ends] = surf_starts
    edge_len = np.linalg.norm(allpts - allpts[nxt], axis=1)
    perim_surf = np.add.reduceat(edge_len, surf_starts)
    S = len(surf_starts)
    BIG = S + 1
    sidx = np.arange(S)
    all_min = (smin == objzmin[surf_obj]) & (smax == objzmin[surf_obj])
    all_max = (smin == objzmax[surf_obj]) & (smax == objzmax[surf_obj])
    surf_obj_start = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(surf_per_obj, out=surf_obj_start[1:])
    first_min = np.minimum.reduceat(
        np.where(all_min, sidx, BIG), surf_obj_start[:-1]
    )
    first_max = np.minimum.reduceat(
        np.where(all_max, sidx, BIG), surf_obj_start[:-1]
    )
    p1 = np.where(first_min < BIG, perim_surf[np.minimum(first_min, S - 1)], 0.0)
    p2 = np.where(first_max < BIG, perim_surf[np.minimum(first_max, S - 1)], 0.0)
    perimeter = np.where(p1 != 0.0, p1, np.maximum(p2, 1.0))
    out["perimeter"] = perimeter

    # ---- unique vertices (rows) per object (pipelines.py:137-139)
    vidx = np.lexsort((allz, ally, allx, pobj))
    sp = allpts[vidx]
    so = pobj[vidx]
    firstv = np.ones(P, dtype=bool)
    firstv[1:] = (so[1:] != so[:-1]) | np.any(sp[1:] != sp[:-1], axis=1)
    verts = sp[firstv]
    vobj = so[firstv]

    # ---- per-axis unique coordinate pools (object_properties.py:28-37):
    # num_floors = |unique z|, axes_symmetry = mean of per-axis stds (ddof=0).
    # The unique VALUE set per axis over all points equals the set over the
    # deduped verts (projection of a deduped row set), so these pools come
    # from the ~3x smaller verts arrays; the x pool needs no sort at all —
    # verts are already lex-sorted by (obj, x, y, z).
    V = len(verts)

    def _vert_axis_unique(vals, presorted=False):
        if presorted:
            v, o = vals, vobj
        else:
            idx = np.lexsort((vals, vobj))
            v = vals[idx]
            o = vobj[idx]
        first = np.ones(V, dtype=bool)
        first[1:] = (o[1:] != o[:-1]) | (v[1:] != v[:-1])
        return v[first], o[first]

    def _seg_std(vals, obj):
        cnt = np.bincount(obj, minlength=n).astype(np.float64)
        mean = np.bincount(obj, weights=vals, minlength=n) / cnt
        var = (
            np.bincount(obj, weights=(vals - mean[obj]) ** 2, minlength=n) / cnt
        )
        return np.sqrt(var)

    ux, uxo = _vert_axis_unique(verts[:, 0], presorted=True)
    uy, uyo = _vert_axis_unique(verts[:, 1])
    uz, uzo = _vert_axis_unique(verts[:, 2])
    out["num_floors"] = np.bincount(uzo, minlength=n).astype(np.float64)
    out["axes_symmetry"] = (
        _seg_std(ux, uxo) + _seg_std(uy, uyo) + _seg_std(uz, uzo)
    ) / 3.0
    vcnt = np.bincount(vobj, minlength=n).astype(np.float64)
    vstart = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(vobj, minlength=n), out=vstart[1:])
    out["num_vertices"] = vcnt

    # centroid + mean centroid distance over unique vertices
    centroid = np.stack(
        [np.bincount(vobj, weights=verts[:, i], minlength=n) / vcnt for i in range(3)],
        axis=1,
    )
    cen = verts - centroid[vobj]
    out["ave_centroid_distance"] = (
        np.bincount(vobj, weights=np.linalg.norm(cen, axis=1), minlength=n) / vcnt
    )

    # ---- covariance (ddof=1, np.cov semantics) + batched eigh
    with np.errstate(divide="ignore", invalid="ignore"):
        denom = vcnt - 1.0
        C = np.empty((n, 3, 3), dtype=np.float64)
        for i in range(3):
            for j in range(i, 3):
                cij = (
                    np.bincount(vobj, weights=cen[:, i] * cen[:, j], minlength=n)
                    / denom
                )
                C[:, i, j] = cij
                C[:, j, i] = cij
        # degenerate meshes (<2 unique verts: cov undefined) define nan —
        # eigh must not see them (LAPACK raises on nan matrices and one bad
        # document must never kill a whole Arrow batch)
        valid_eig = np.isfinite(C).all(axis=(1, 2))
        eigenvectors = np.zeros((n, 3, 3), dtype=np.float64)
        elong = np.full(n, np.nan)
        if valid_eig.any():
            ev, evec = np.linalg.eigh(C[valid_eig])
            eigenvectors[valid_eig] = evec
            elong[valid_eig] = np.sqrt(ev[:, -1] / ev[:, 0])
        out["elongation"] = elong

        # PCA-aligned bbox (object_properties.py:80-98)
        aligned = np.einsum("pi,pij->pj", verts, eigenvectors[vobj])
        ext = np.empty((n, 3), dtype=np.float64)
        for i in range(3):
            ext[:, i] = np.maximum.reduceat(
                aligned[:, i], vstart[:-1]
            ) - np.minimum.reduceat(aligned[:, i], vstart[:-1])
        ext[~valid_eig] = np.nan
        out["aligned_bounding_box_width"] = ext[:, 0]
        out["aligned_bounding_box_length"] = ext[:, 1]
        out["aligned_bounding_box_height"] = ext[:, 2]

        # ---- hulls: exact integer geometry stays per-object, but the 2-D
        # hull's per-object ``np.unique(points[:, :2], axis=0)`` comes from
        # ONE global adjacent-dedup instead of n tiny sorts: verts are
        # already lex-sorted by (obj, x, y, z), so dropping rows equal to
        # their predecessor on (obj, x, y) yields exactly the sorted
        # unique (x, y) set per object — no float arithmetic, bit-exact.
        xy_first = np.ones(V, dtype=bool)
        xy_first[1:] = (
            (vobj[1:] != vobj[:-1])
            | (verts[1:, 0] != verts[:-1, 0])
            | (verts[1:, 1] != verts[:-1, 1])
        )
        xy = np.ascontiguousarray(verts[xy_first, :2])
        xyobj = vobj[xy_first]
        xystart = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.bincount(xyobj, minlength=n), out=xystart[1:])
        hull2 = np.empty(n, dtype=np.float64)
        hull3 = np.empty(n, dtype=np.float64)
        for i in range(n):
            hull2[i] = convex_hull_2d_perimeter(
                xy[xystart[i] : xystart[i + 1]], assume_unique_sorted=True
            )
            hull3[i] = convex_hull_3d_volume(
                verts[vstart[i] : vstart[i + 1]], assume_unique=True
            )
        out["convex_hull_area"] = hull2
        out["convex_hull_volume"] = hull3

        # ---- derived scalar formulas (object_properties.py:188-307)
        out["perimeter_ind"] = 2.0 * np.sqrt(np.pi * area) / perimeter
        out["compactness_2d"] = np.divide(
            area, hull2, out=np.full(n, np.inf), where=hull2 != 0.0
        )
        out["compactness_3d"] = np.divide(
            volume, hull3, out=np.full(n, np.inf), where=hull3 != 0.0
        )
        out["density"] = area / perimeter
        out["shape_ind"] = perimeter / np.sqrt(4.0 * np.pi * area)
        out["hemisphericality"] = (
            3.0 * math.sqrt(2.0) * math.sqrt(math.pi) * volume / (area ** 1.5)
        )
        frac_ok = (volume > 0.0) & (area != 1.0)
        fra = np.full(n, np.nan)
        np.divide(
            np.log(volume, out=np.zeros(n), where=frac_ok),
            1.5 * np.log(area, out=np.ones(n), where=frac_ok),
            out=fra,
            where=frac_ok,
        )
        out["fractality"] = np.where(frac_ok, 1.0 - fra, np.nan)
        out["cubeness"] = 6.0 * volume ** (2.0 / 3.0) / area
        out["circumference"] = (
            4.0 * np.pi * (3.0 * volume / (4.0 * np.pi)) ** (2.0 / 3.0) / area
        )

        if log1p:
            for k in out:
                out[k] = np.log1p(out[k])
    return out
