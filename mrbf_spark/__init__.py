"""mrbf_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference repo
``Fabi8997/map-reduce-bloom-filter`` (a Hadoop/Spark-RDD per-key Bloom
filter pipeline), re-expressed Spark-first on the DataFrame/SQL stack,
plus the large-scale training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing, streaming
windows) the north star mandates.

Design rules (see SURVEY.md §7):
- DataFrame/SQL first; Catalyst plans everything; RDDs nowhere.
- Bloom filters are packed ``array<long>`` bit words, built with a
  per-partition Arrow word fold and a JVM ``bit_or`` merge — never a
  ``collect_list`` of indexes (the reference's ``extend_list`` concat
  is the anti-pattern this replaces).
- Broadcast joins for small dims / filter tables; AQE on.
- Python only in Arrow-batched ``applyInPandas``/``mapInPandas``,
  never row-at-a-time UDFs in a hot path.
"""

__version__ = "0.1.0"
