"""gr_tdigest_spark — a PySpark-native mergeable-sketch library.

T-digest centerpiece plus companion HLL / count-min / KLL / Bloom
sketches, implemented as Arrow-vectorized partial-aggregate + merge
operators over Spark DataFrames. Kernels live in ``sketches`` (pure
numpy, no Spark imports); Spark orchestration in ``operators`` and
``functions``. Importing the package inside a Spark Python worker
installs the zip-directory guard in ``worker``.
"""

from gr_tdigest_spark import worker
from gr_tdigest_spark.sketches.tdigest import TDigest, DEFAULT_MAX_SIZE

worker.install()

__version__ = "0.1.0"

__all__ = ["TDigest", "DEFAULT_MAX_SIZE", "__version__"]
