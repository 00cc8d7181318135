from .katz import eigenvector_centrality, katz_centrality
from .motifs import closed_triad_census, triad_census
from .pagerank import pagerank
from .cc import connected_components, connected_components_hashmin
from .lpa import label_propagation
from .seeded_lpa import seeded_label_propagation
from .localcluster import ppr_sweep_cut
from .linkpred import common_neighbor_scores
from .betweenness import betweenness_centrality
from .coreness import core_decomposition
from .anf import (
    closeness_centrality,
    effective_diameter,
    effective_diameter_df,
    harmonic_centrality,
    neighborhood_function,
)
from .ktruss import ktruss
from .triangles import clustering_coefficients, transitivity, triangle_counts, triangle_total
from .scc import strongly_connected_components  # noqa: F401
from .sssp import shortest_paths, sssp_program
from .reachability import reachability
from .mis import maximal_independent_set
from .matching import maximal_matching
from .toposort import dependency_levels
from .coloring import greedy_coloring
from .msf import minimum_spanning_forest
from .bipartite import bipartite_check
from .cocitation import bibliographic_coupling, cocitation
from .landmarks import landmark_distances, select_landmarks
from .rectangles import rectangle_counts
from .structsim import neighborhood_minhash_pairs
from .salsa import salsa_scores
from .sampling import graph_sample
from .stats import (
    avg_neighbor_degree,
    community_conductance,
    graph_summary,
    modularity,
    rich_club_profile,
)
from .walks import node2vec_walks, random_walks
from .wl import wl_class_sizes, wl_refinement
from .temporal import temporal_earliest_arrival, temporal_latest_departure
from .motif_match import motif_find
from .diff import edge_diff, vertex_delta
from .partition_stats import partition_quality
from .cliques import local_maximal_cliques, maximum_cliques

__all__ = [
    "graph_sample",
    "avg_neighbor_degree",
    "community_conductance",
    "graph_summary",
    "modularity",
    "rich_club_profile",
    "maximal_independent_set",
    "maximal_matching",
    "dependency_levels",
    "greedy_coloring",
    "minimum_spanning_forest",
    "bipartite_check",
    "cocitation",
    "bibliographic_coupling",
    "landmark_distances",
    "select_landmarks",
    "neighborhood_minhash_pairs",
    "rectangle_counts",
    "salsa_scores",
    "node2vec_walks",
    "random_walks",
    "wl_class_sizes",
    "wl_refinement",
    "temporal_earliest_arrival",
    "temporal_latest_departure",
    "motif_find",
    "edge_diff",
    "vertex_delta",
    "partition_quality",
    "local_maximal_cliques",
    "maximum_cliques",
    "closed_triad_census",
    "triad_census",
    "eigenvector_centrality",
    "katz_centrality",
    "pagerank",
    "connected_components",
    "connected_components_hashmin",
    "label_propagation",
    "seeded_label_propagation",
    "common_neighbor_scores",
    "ppr_sweep_cut",
    "clustering_coefficients",
    "ktruss",
    "betweenness_centrality",
    "core_decomposition",
    "closeness_centrality",
    "effective_diameter",
    "effective_diameter_df",
    "harmonic_centrality",
    "neighborhood_function",
    "transitivity",
    "triangle_counts",
    "triangle_total",
    "shortest_paths",
    "sssp_program",
    "strongly_connected_components",
    "reachability",
]
