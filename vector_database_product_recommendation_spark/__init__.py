"""vector_database_product_recommendation_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query & data-processing capabilities of the
reference system ``shabnomm/Vector-Database-Product-Recommendation``
(a Streamlit + pandas/NumPy/FAISS/sklearn vector-recommendation app),
re-expressed Spark-first:

- group-by feature-engineering lineage (reviews -> products) as DataFrame aggs
- exact KNN as one Arrow-batched BLAS scan with a task-local top-k and one
  merge (``operators/knn.py`` ``topk_scan``)
- IVF ANN as a driver-side Lloyd k-means on a bounded sample, Arrow-batched
  cluster assignment and a probe over the same top-k scan; PQ and SQ8
  compressed search beside it
- TF-IDF + hybrid dense/sparse scoring as a DataFrame-native pipeline
- the serving facade ``api.ProductSearchEngine``, answering vector,
  filtered, item and compare requests from driver arrays when the
  catalog fits
- plus the large-scale training-data-pipeline operators the reference lacks:
  dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
  text analysis (lang-id, quality, tokens, fingerprints), multimodal binary
  columns, and batch event-log rollups.

Everything is public PySpark DataFrame/SQL/MLlib API; no custom Catalyst
rules are needed (SURVEY.md section 4).
"""

__version__ = "0.1.0"
