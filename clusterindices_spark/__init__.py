"""clusterindices_spark — PySpark-native clustering-validity + data-pipeline engine.

A from-scratch, Spark-first re-expression of the capabilities of
``josemarialuna/ClusterIndices`` (BD-Silhouette, BD-Dunn, Davies-Bouldin, WSSSE
computed distributedly; see SURVEY.md §2A), extended with the relational /
streaming / LLM-data-pipeline operator surface of SURVEY.md §2B/§2C.

Provenance note: ``/root/reference`` was empty at survey time (SURVEY.md §0), so
reference citations are to the companion paper (Luna-Romera et al., Progress in
Artificial Intelligence 7:81-94, 2018, doi:10.1007/s13748-017-0135-3) and to
public knowledge of the GitHub repo, not to file:line of a local checkout.

Design principles (SURVEY.md §7):
- DataFrame expressions over UDFs everywhere; every op oracle-expressible
  unless inherently approximate / iterative.
- Corpus-side distance kernels are one vectorized NumPy left fold
  (``functions.cellassign._d2acc``, bit-equal to the ``l2sq`` expression)
  behind ``mapInArrow``; data the driver already holds (the K-sweep's points
  within ``lloyd.SAMPLE_CAP``, K-row centroid tables) is scored in the
  driver. Probe-constant sites and the index suite keep ``l2sq``
  expressions. Never a row-at-a-time Python UDF.
- Tiny tables (centroids: K rows) travel via broadcast; the only large shuffle
  any index query performs is a groupBy over K clusters.
- round(6) on every computed double, in both the Spark query and the DuckDB
  oracle SQL, for order-insensitive hash stability.
"""

__version__ = "0.1.0"
