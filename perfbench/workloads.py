"""The workloads: their operations, sizes and pass plans.

A run is one cold pass, then `warmup_passes` passes that let the JIT
compiler and graft's caches settle and are not reported, then the measured
warm passes. The measured pass count is a fixed function of `--seconds`, so
a run's sample count does not depend on how fast the code under test is and
two commits are compared on the same amount of work.
"""
import math
import random

DATA = "data/sf0.01"  # fixed seed-42 tables, relative to this directory

WORKLOADS = {
    "mapreduce": {
        "why": "the paper's own pipeline: scan, native map expressions, the typed reduce path "
               "and task skew over a seeded corpus; few plans, no artifacts, no parquet",
        "ops": ["scan", "task1", "task2", "task3", "wordcount", "generic_map1"],
        "permute": False,
        "warmup_passes": 2,
        "nominal_warm_pass_s": 4.2,
    },
    "corpus": {
        # An odd operation count puts the warm median inside one operation's
        # samples rather than on the edge between two.
        "why": "ingest: the cold pass builds graft_* tables and memoized models that warm "
               "passes only read, plus the heavy shuffles and localCheckpoint loops",
        "ops": ["dedup_substring_clusters", "dedup_simhash64_pairs", "ta_inverted_index",
                "text_bpe_phrase_corpus", "graph_label_propagation"],
        "permute": True,
        "warmup_passes": 4,
        "nominal_warm_pass_s": 2.7,
    },
}

# The mapreduce corpus: 64 files, about 16 MiB of ASCII text.
CORPUS_FILES = 64
CORPUS_BYTES = 16 << 20
# Rows of the in-memory result the traced run writes through TextSink alone.
SINK_PROBE_ROWS = 20000


def measured_passes(workload, seconds):
    """Measured warm passes that fill about `seconds` at the nominal pace."""
    return max(2, math.ceil(seconds / WORKLOADS[workload]["nominal_warm_pass_s"]))


def plan(workload, seed, seconds):
    """Operation order of every pass, cold pass first. For query workloads
    the seed permutes the order within each pass, which moves the shared
    builds and JIT warm-up onto different queries; the data is fixed."""
    spec = WORKLOADS[workload]
    passes = 1 + spec["warmup_passes"] + measured_passes(workload, seconds)
    if not spec["permute"]:
        return [list(spec["ops"]) for _ in range(passes)]
    rng = random.Random(seed)
    return [rng.sample(spec["ops"], len(spec["ops"])) for _ in range(passes)]


def measured(workload, pass_index):
    """Whether a pass is one of the measured warm passes."""
    return pass_index > WORKLOADS[workload]["warmup_passes"]
