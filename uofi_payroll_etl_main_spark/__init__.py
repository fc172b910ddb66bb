"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference payroll ETL (terbe2022/uofi-payroll-etl-main,
surveyed in SURVEY.md), re-expressed Spark-first.

Layout:
    session      -- SparkSession builder tuned for local[32] testing and
                    cluster-scale defaults (AQE, broadcast thresholds).
    expressions  -- scalar expression library (SURVEY.md E1-E16).
    predicates   -- filter/projection helpers (P1-P10).
    joins        -- broadcast left-join suite + fan-out guard (J1-J9, V1).
    dedup        -- deterministic dedup family (D1-D4).
    aggregates   -- mode/min-max/count (A1-A3).
    setops       -- union-by-name (U1).
    catalog      -- file-catalog source (S2) + first-match pick (P5).
    io           -- sources/sinks (S3-S7); Excel through stdlib zip+XML.
    report       -- structured run report (V2-V4).
    pipelines    -- PUA / CPA end-to-end dataflows (SURVEY.md section 3).
    llm          -- LLM-training-data operators: dedup, similarity, text,
                    multimodal plumbing.
    streaming    -- windowed event analytics, batch-first and
                    Structured-Streaming-ready.

All reference semantics are implemented as native Catalyst expressions --
zero row-at-a-time Python UDFs anywhere in the engine (SURVEY.md section 2.9
shows none are needed).  Pandas UDFs appear only in `llm.multimodal`, where
binary decode genuinely requires Python.
"""

__version__ = "0.2.0"
