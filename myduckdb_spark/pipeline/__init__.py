"""Large-scale training-data pipeline operators.

Beyond the reference's own surface (it is a pure OLAP engine), this
package adds the operations a 100 TB text/multimodal corpus pipeline
needs, built Spark-first:

* ``dedup`` — exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
  cosine near-duplicate detection,
* ``similarity`` — exact brute-force, LSH-bucketed and IVF approximate
  nearest neighbors over embedding columns,
* ``textstats`` — language ID, quality scoring, token counting,
  fingerprinting,
* ``multimodal`` — binary-column conventions and decode/feature plumbing
  (decoders stubbed: media libs are not in the image).
"""
