from sparktax.cluster.hac import hac_children  # noqa: F401
from sparktax.cluster.spark import (  # noqa: F401
    cluster_composition,
    cluster_sizes,
    clusterize,
    f_matrix,
    leaf_assignments,
)
