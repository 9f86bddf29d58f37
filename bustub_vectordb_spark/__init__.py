"""bustub_vectordb_spark — a PySpark-native analytics + vector engine.

A brand-new engine with the query and data-processing capabilities of the
reference system (BusTub-based vector DB, see SURVEY.md), re-expressed
Spark-first: declarative DataFrame plans optimized by Catalyst, batch ANN
index construction as DataFrame jobs, and LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) designed for
100 TB scale.

Layout:
  session     — tuned SparkSession builder
  catalog     — table registry + VECTOR(n) type discipline (ref: src/catalog/)
  functions   — scalar/vector/text expression builders (ref: src/execution/expressions/)
  operators   — relational operators beyond raw DataFrame calls (ref: src/execution/)
  index       — IVFFlat / HNSW batch build + probe, index selection rule
                (ref: src/storage/index/, src/optimizer/vector_index_scan.cpp)
  dedup       — exact / MinHash-LSH / SimHash / n-gram Jaccard dedup
  similarity  — brute-force and IVF-accelerated similarity search
  multimodal  — binary media columns: schema + Arrow-batched decode plumbing
  streaming   — event-time windowed aggregation (batch + Structured Streaming)
"""

import os as _os

# One BLAS thread per task, engine-wide (guide §4: size CPU work to the
# task, Spark owns the parallelism). NumPy's OpenBLAS spawns a pool of
# ncpu threads the first time an array crosses its internal threading
# threshold; inside local[N] / executor Python workers that means N tasks
# × ncpu BLAS threads of oversubscription, and OpenBLAS's post-work spin
# -wait measurably steals CPU from the JVM stages that follow (observed
# as 20-50% swings on untouched SQL bench keys after a kernel started
# issuing table-sized gemvs). Single-threaded BLAS is also faster for
# this engine's kernels (≤ a few hundred µs each — the pool handoff
# costs more than the math: 2000×64 gemv measured 1.3 ms threaded vs
# 30 µs single) and removes a run-to-run variance source. setdefault so
# a deployment that wants threaded driver-side BLAS can override; set
# here (package import, before any SparkSession exists) so local
# workers, executors (env inherited through the JVM), and driver
# replays all see the same value before numpy loads.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    _os.environ.setdefault(_v, "1")

# Inside a PySpark worker, stop each task from re-reading every unchanged
# zip archive on the path (shipping.reuse_unchanged_zip_directories); a
# no-op on the driver.
from .shipping import reuse_unchanged_zip_directories as _reuse_zip_dirs

_reuse_zip_dirs()

__version__ = "0.1.0"
