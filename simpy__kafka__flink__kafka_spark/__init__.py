"""PySpark-native analytics engine with the capabilities of the reference
``rongg10/SimPy--Kafka--Flink--Kafka`` system (distributed-trace linking over
service-call spans), rebuilt Spark-first.

Layout
------
- ``session``    : SparkSession factory sized from the machine (local mode).
- ``schemas``    : canonical message schema + message-view derivation from testdata.
- ``operators/`` : the reference's operators as DataFrame transformations
  (interval-containment self-join, adjacency-list aggregation, watermark ops).
- ``functions/`` : scalar/text/dedup/similarity column expression libraries.
- ``sources/``   : Kafka I/O, deterministic trace generator (batch + rate-source).
- ``streaming/`` : Structured Streaming topology mirroring the reference job.
- ``plans/``     : the declared query registry consumed by ``__spark_entry__.py``.
"""

__version__ = "0.1.0"
