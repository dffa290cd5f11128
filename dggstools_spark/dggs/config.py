"""DGGS configuration + resolution policy.

Mirrors the semantic contract of the reference's ``RHEALPixDGGSNamedTuple``
(/root/reference/dggstools/rhpx/rhpxutils.py:22-34) and the resolution scan
helpers (rhpxutils.py:195-216), re-derived from the published equations.

The ellipsoid is WGS84 with the GRS80-style flattening the reference library
uses (it notes the equivalence at rhpxutils.py:163-166).  Golden check
(tests/unit_tests/tests_dggstools.py:15-33 in the reference):
``cell_width(10) == 169.4788172157132`` and ``cell_width(11) ==
56.49293907190441`` for n_side=3 — reproduced here to <1e-9 m.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257222101  # the reference library's WGS84 uses the GRS80 flattening
WGS84_E2 = 2.0 * WGS84_F - WGS84_F * WGS84_F
WGS84_E = math.sqrt(WGS84_E2)


def _q(sin_phi: float) -> float:
    """Authalic function q(phi) (Snyder 3-12)."""
    e, e2 = WGS84_E, WGS84_E2
    return (1.0 - e2) * (
        sin_phi / (1.0 - e2 * sin_phi * sin_phi)
        - (1.0 / (2.0 * e)) * math.log((1.0 - e * sin_phi) / (1.0 + e * sin_phi))
    )


Q_P = _q(1.0)
#: Radius of the sphere with the same surface area as the WGS84 ellipsoid.
AUTHALIC_RADIUS = WGS84_A * math.sqrt(Q_P / 2.0)

#: rHEALPix is equal-area up to this constant areal distortion
#: (Gibb/Raichev/Speth 2013; reference rhpxutils.py:19).
MEAN_AREAL_DISTORTION = 1.178


@dataclass(frozen=True)
class RHEALPixConfig:
    """(ellipsoid=WGS84, n_side, north_square, south_square) — reference default "3/1/0"."""

    n_side: int = 3
    north_square: int = 1
    south_square: int = 0
    max_resolution: int = 15  # same spirit as rhealpixdggs max_resolution bound

    def __post_init__(self) -> None:
        if self.n_side not in (2, 3):
            raise ValueError(f"n_side must be 2 or 3, got {self.n_side}")
        if not (0 <= self.north_square <= 3 and 0 <= self.south_square <= 3):
            raise ValueError("north_square/south_square must be in 0..3")

    # --- cell metrics -----------------------------------------------------
    def cell_width(self, res_idx: int) -> float:
        """Planar width (m) of a cell at resolution ``res_idx``."""
        return (math.pi / 2.0) * AUTHALIC_RADIUS / self.n_side**res_idx

    def cell_area_planar(self, res_idx: int) -> float:
        w = self.cell_width(res_idx)
        return w * w

    def cell_area(self, res_idx: int) -> float:
        """True (ellipsoidal) cell area: planar area corrected by the mean
        areal distortion (reference vector_to_rhpx.py:461-465)."""
        return self.cell_area_planar(res_idx) / MEAN_AREAL_DISTORTION

    # --- resolution policy (reference rhpxutils.py:198-216) ---------------
    def get_closest_higher_resolution(self, base_resolution: float) -> tuple[int, float]:
        for i in range(self.max_resolution):
            w = self.cell_width(i)
            if w < base_resolution:
                return i, w
        raise ValueError(f"no resolution finer than {base_resolution}")

    def get_closest_lower_resolution(self, base_resolution: float) -> tuple[int, float]:
        for i in range(self.max_resolution):
            if self.cell_width(i) < base_resolution:
                return i - 1, self.cell_width(i - 1)
        raise ValueError(f"no resolution coarser than {base_resolution}")

    def get_closest_resolution(self, base_resolution: float) -> tuple[int, float]:
        for i in range(self.max_resolution):
            w = self.cell_width(i)
            if w < base_resolution:
                higher = (i, w)
                lower = (i - 1, self.cell_width(i - 1))
                if (lower[1] - base_resolution) < (base_resolution - higher[1]):
                    return lower
                return higher
        raise ValueError(f"no resolution close to {base_resolution}")


DEFAULT_CONFIG = RHEALPixConfig()
