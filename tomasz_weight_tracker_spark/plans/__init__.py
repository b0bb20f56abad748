"""Query catalog: every implemented operator exposed as a (spark
query, DuckDB oracle SQL) pair — the reference's own cross-engine
verification pattern (SURVEY.md §5.1.1), industrialized.
"""

from .catalog import REGISTRY, Query, load  # noqa: F401
from . import tpch_full  # noqa: F401  (TPC-H shapes Q2..Q22)
from . import python_api  # noqa: F401  (applyInPandas, pandas UDAF, Python UDTF)
from . import pathbound  # noqa: F401  (W1/W2/W4 pipelines gate-embedded via derived inputs)
from . import dedup_lsh  # noqa: F401  (exact/MinHash/LSH dedup, clusters, passage spans, line/URL dedup)
from . import similarity_ann  # noqa: F401  (kNN, IVF, PQ, IVFADC, BM25, lexical cosine, bitext mining)
from . import text_curation  # noqa: F401  (doc signals, packing, mixing, Gopher rules, curation)
from . import lm_tokenizer  # noqa: F401  (BPE, bigram LM, perceptron, DSIR)
from . import media  # noqa: F401  (metadata, BMP/GIF/JPEG decode, perceptual-hash near-dups)
from . import streaming_ingest  # noqa: F401  (windowed/stateful streams, foreachBatch ingestion folds)
from . import file_pipelines  # noqa: F401  (CSV/HTML/JSONL/report, paged source, shards)
from . import relational  # noqa: F401  (subqueries, set ops, rollups, graphs, audits, layout, Bloom)
from . import time_series  # noqa: F401  (as-of, resample, rolling windows, SCD2, funnels)
from . import sketches  # noqa: F401  (HLL, CMS, bitmaps, sampling, quantiles)
