from montecarlopagerank_spark.operators.edges import (  # noqa: F401
    build_graph,
    build_vertex_dict,
    degrees,
    transcript_edges,
)
from montecarlopagerank_spark.operators.adjacency import build_adjacency  # noqa: F401
from montecarlopagerank_spark.operators.skew import salted_sum  # noqa: F401
from montecarlopagerank_spark.operators.checkpoint import CheckpointManager  # noqa: F401
