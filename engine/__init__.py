"""PySpark-native time-series rollup / downsample / retention engine.

Built from scratch against the pinned semantics in SURVEY.md §2.1 (the
reference mount /root/reference was empty at survey and build time — see
SURVEY.md §0; BASELINE.json is the authoritative spec, cited as B:<line>).

Layout (SURVEY.md §7):
    engine.schema       pinned constants + fixed StructTypes
    engine.session      SparkSession builder with K3 AQE/shuffle confs; local
                        masters write through engine/jvm's fork-free FileSystem
    engine.io           S1 scan, S2/S3 tier write/read (TableFormat shim), S4 synth
    engine.fused        every tier: G1 gap-fill, R1-R4 stats/detect, the 1m/1h/1d
                        A1 rollups and C1/C2 payloads in one mapInArrow pass
    engine.rollup       A2 cascade (1m -> 1h -> 1d; read-side hole fill and
                        merge-mode carry), the distinct-user sketch cascade
    engine.compression  C1-C3 delta-of-delta + Gorilla XOR (mapInArrow decode)
    engine.lineage      L1-L3 commit protocol / resume
    engine.query        Q1-Q4 downsample read path
    engine.skew         K1 bucketing (doc_id hash buckets, bucket pruning)
    engine.oracle       single-machine pandas/NumPy twin (the pytest gate) and
                        the pinned G1 / R1-R4 spec
"""

__version__ = "0.1.0"
