"""search_engine_spark — a PySpark-native inverted-index build + BM25 query engine.

A from-scratch rebuild of the query/data-processing capabilities of
approach0/search-engine (reference at /root/reference, C/C++) re-expressed
Spark-first: DataFrames + Catalyst end-to-end, vectorized Arrow/pandas UDFs only
where Spark lacks the primitive (tokenization, posting-block codec, proximity,
snippets), explicit skew handling for web-scale (10^12-doc) term distributions.

Layout
------
- ``session``            SparkSession builder tuned for the engine, and the
                           Python-worker settings (zip-importer stamp)
- ``corpus``             deterministic Common-Crawl-style corpus synthesis + adapters
- ``functions.tokenizer``  Flex-parity tokenizer (reference txt-seg/lexer.eng.l)
- ``functions.codec``      delta + varbyte posting codec (reference codec/for.c role)
- ``operators.postings``   salted two-phase term_stats (skew pattern)
- ``operators.blocks``     the one build kernel (fused invert + block pack) and
                           posting blocks with block-max metadata (mem-index role)
- ``plans.build``          end-to-end index build (indexer/ role)
- ``plans.query``          BM25 top-k query engine w/ WAND pruning (search/ role)
- ``plans.checkpoint``     per-partition segments + lineage, resumable build
- ``operators.dedup``      exact / minhash-LSH / simhash / ngram-jaccard / embedding dedup
- ``operators.similarity`` brute-force + LSH-bucketed ANN over embeddings
- ``operators.textstats``  language-ID, quality scoring, token counts, fingerprints
- ``oracle``               independent pandas reference scorer (golden tests)
"""

__version__ = "0.1.0"

from .session import install_zip_stamp

install_zip_stamp()
