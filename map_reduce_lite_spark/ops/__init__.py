# similarity first: building its registry imports pipeline, which imports
# dedup, which imports similarity's shared vector-pair core at module level
from map_reduce_lite_spark.ops.similarity import SIMILARITY_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.dedup import DEDUP_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.text import TEXT_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.multimodal import MULTIMODAL_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.curation import CURATION_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.pipeline import PIPELINE_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.sampling import SAMPLING_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.spans import SPAN_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.clustering import CLUSTERING_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.timeseries import TIMESERIES_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.index import INDEX_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.profile import PROFILE_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.linkage import LINKAGE_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.projection import PROJECTION_QUERIES  # noqa: F401
from map_reduce_lite_spark.ops.snapshot import SNAPSHOT_QUERIES  # noqa: F401
