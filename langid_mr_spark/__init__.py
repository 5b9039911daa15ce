"""langid_mr_spark — a PySpark-native rebuild of the query/data-processing
capabilities of cisco7507/LangId-mr (reference snapshot: /root/reference).

The reference is an EN/FR language-identification + quality-gate service over
audio documents. This package re-expresses the same semantics — per-document
scoring, a deterministic priority-ordered decision cascade, keep/drop +
scrubbed text + lineage metrics — as one declarative Spark DataFrame job over
Common-Crawl-style web pages (schema per BASELINE.json `input_hint`:
url, warc_ts, html, text, lang).

Layout
------
- ``constants``     thresholds / lexicons / labels (reference-cited)
- ``functions``     Column-level expression library (native Spark SQL)
- ``scoring``       deterministic char-n-gram scorers as iterator pandas UDFs
- ``gate``          the decision cascade (lang_gate.py:293-546 semantics)
- ``quality``       Gopher/C4-style heuristic quality rules
- ``scrub``         PII/toxicity regex scrubbing (byte-deterministic)
- ``pipeline``      end-to-end job: read → score → gate → scrub → write
- ``oracle``        pure-Python single-row reference implementation (test spec)
- ``fixtures``      deterministic synthetic web_pages corpus (seed=42)
- ``queries``       analytics parity queries (driver oracle contract)
- ``dedup``         exact / MinHash-LSH / SimHash deduplication
- ``similarity``    embedding ANN (brute-force + LSH-bucketed)
- ``multimodal``    image/audio binary columns: sniff, pixel/PCM decode
"""

__version__ = "0.1.0"
