"""What each workload runs, at which scale factor of the generated
tables (`datagen.py`)."""

WORKLOADS = {
    # Connector.load of the lineitem-grain star frame, then a reload
    "load_star": {"sf": 0.001, "ops": []},
    # registered queries (SparkEntry.queries), one at a time; one query
    # per family, because every run pays a JVM start and three untimed
    # executions of each query (~3 s cold) before it times anything
    "board": {"sf": 0.001, "ops": [
        # relational: per-query fixed cost (Catalyst, job dispatch, driver)
        "q1_pricing_summary",
        # operators: executor work, exchanges, stage width
        "d_minhash_lsh", "e_ann_lsh",
        # streaming: checkpoint, WAL and state-store replay floor
        "st_dedup",
    ]},
}

# scale factor and seed of the build's class-loading training run
TRAIN_SF = 0.001
TRAIN_SEED = 0
