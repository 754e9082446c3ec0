"""Pure-numpy, Spark-independent kernels.

These pin the bit-exact semantics the engine depends on (SURVEY.md §7):
resampling (reference ``pkg/utils/imageUtils.go:40-47`` +
``golang.org/x/image/draw`` kernels), weighted pixel similarity with its
boundary quirks (``pkg/utils/comparisonUtils.go:53-112``), pad/edge-fill
(``pkg/quadtreeImage/quadtreeImage.go:381-405``,
``pkg/utils/imageUtils.go:49-134``), the quadtree tile path codec
(``pkg/quadtreeImage/quadtreeElement.go:88-121,241``), Morton/Z-order cell
keys, image codecs, and perceptual hashing.

Everything here operates on numpy arrays and is exercised by unit tests
before any Spark wiring; the Spark operators call these from inside
Arrow-vectorized UDFs only.
"""

from .resample import scale, scale_batch  # noqa: F401
from .similarity import compare_pixels_weighted  # noqa: F401
from .tiles import (  # noqa: F401
    padded_side,
    pad_image,
    tile_children,
    morton_key,
)
