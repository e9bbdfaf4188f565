"""hbasemapreduce_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query/data-processing
capabilities of the reference repo ``JimHyw/hbasemapreduce`` (an HBase
MapReduce ETL job collection; see SURVEY.md — the reference checkout at
/root/reference is empty, so SURVEY.md §2 is the binding capability
contract, grounded in the public org.apache.hadoop.hbase.mapreduce API).

Design stance (SURVEY.md §7): idiomatic DataFrame/SQL end-to-end, no
RDDs, no hand-scheduling — declare logical plans and let Catalyst +
Tungsten pick physical strategies.  Python touches data only through
Arrow-batched pandas UDFs, and only where built-ins cannot express the
semantics (SURVEY.md §4 "custom work actually needed").

Layout:
    catalog     table loaders (parquet, ns-timestamp handling)
    registry    the query registry backing __spark_entry__.py
    operators/  one module per SURVEY.md §2 category; each query is a
                pure function (spark, sf_dir) -> DataFrame
    functions/  reusable operator building blocks (as-of join,
                sessionize, minhash, cosine top-k, determinism: the
                decimal sandwich and the engine-portable hashes KNUTH
                and the md5-hex parse hex_int / hex_int_sql /
                hex_int_duck / hex_digit_duck)
    streaming/  Structured Streaming mirrors of §2.8 batch queries
"""

__version__ = "0.1.0"
