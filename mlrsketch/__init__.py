"""mlrsketch — a PySpark-native distributed sketch / aggregation engine.

A brand-new library (NOT a port) with the query capabilities of
johnkerl/miller (reference at /root/reference), re-expressed Spark-first:

- ``mlrsketch.verbs.exact``   — Miller's verb surface (stats1, count-distinct,
  uniq, top, most-frequent, fraction, step, ...) as Catalyst-planned
  DataFrame transformations with Miller's exact semantics
  (non-interpolated percentiles, first-seen mode ties, ...).
- ``mlrsketch.sketches``      — engine-independent mergeable sketch cores
  (HLL++, theta, KLL, t-digest, SpaceSaving heavy hitters, Bloom,
  bootstrap CI), batch-vectorized, serializable, mergeable.
- ``mlrsketch.agg``           — the two-level partial/final sketch
  aggregation plan: per-partition partial states from ``mapInPandas``,
  then one fold of the collected states (global) or a grouped
  ``applyInPandas`` merge over the state rows.
- ``mlrsketch.pipeline``      — web-scale training-data ops: dedup
  (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search,
  text analysis, multimodal plumbing.
- ``mlrsketch.pages``         — deterministic Common-Crawl-style pages
  table synthesis (url, warc_ts, html, text, lang).
"""

__version__ = "0.1.0"
