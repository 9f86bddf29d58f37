from .hnsw import DamagedIndexError, HNSWIndex, ShardedHNSW
from .ivfflat import IVFFlatIndex
from .registry import VectorIndexRegistry
from .selection import KnnPlan, plan_knn
from .vamana import PartitionedVamanaServing, VamanaIndex, load_partitioned

__all__ = [
    "DamagedIndexError",
    "HNSWIndex",
    "IVFFlatIndex",
    "PartitionedVamanaServing",
    "ShardedHNSW",
    "VamanaIndex",
    "VectorIndexRegistry",
    "KnnPlan",
    "load_partitioned",
    "plan_knn",
]
