"""The benchmark's workloads: which operations one pass runs, and what
they read.

An operation is either a registered query name (built by
``__spark_entry__.queries()[name](spark, input_dir)`` and collected) or
``submit:<job>``, one of the reference's MapReduce jobs run through
``Engine.submit(job, glob, output=dir)``.

A pass runs the operations in order, one at a time, from one client: the
loop is closed. Each workload keeps the few operations that stand for
its layers and fit a run's time budget; BENCHMARK.json records why.
Every layer but ``streaming`` runs on some workload: the streaming
queries stage their input under a fixed ``/tmp`` path, outside the
checkout a run may write to.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    # parquet tables and corpus directories the operations read; each
    # counts once towards the rows a pass reads
    tables: tuple[str, ...] = ()
    corpora: tuple[str, ...] = ()


# job -> the corpus directory it reads
SUBMIT_JOBS = {"wc": "text"}

WORKLOADS = {
    "etl_relational": Workload(
        ops=("q1_pricing_summary", "q3_top_orders", "text_bigram_logprob", "submit:wc"),
        tables=("lineitem", "orders", "customer", "documents"),
        corpora=("text",),
    ),
    "dedup_graph": Workload(
        ops=("dedup_components", "graph_label_propagation", "cluster_embeddings_kmeans",
             "curation_mixture_temperature", "pipeline_pretrain_curation"),
        tables=("embeddings", "lineitem", "documents"),
    ),
    "vector_multimodal": Workload(
        ops=("similarity_bruteforce", "embedding_label_drift", "multimodal_ppm_phash"),
        tables=("embeddings", "documents"),
    ),
}

# Layers are named after the module that defines an operation's builder,
# below the package: relational.queries2 -> relational, ops.dedup -> ops.dedup.
LAYERS = (
    "relational",
    "streaming",
    "engine",
    "ops.dedup",
    "ops.graph",
    "ops.clustering",
    "ops.curation",
    "ops.pipeline",
    "ops.text",
    "ops.similarity",
    "ops.projection",
    "ops.multimodal",
)


def layer_of(module: str) -> str:
    parts = module.split(".")[1:]  # drop the package name
    return ".".join(parts[:2]) if parts[0] == "ops" else parts[0]
