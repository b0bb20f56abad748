"""Query catalog: every implemented operator exposed as a (spark
query, DuckDB oracle SQL) pair — the reference's own cross-engine
verification pattern (SURVEY.md §5.1.1), industrialized.
"""

from .catalog import REGISTRY, Query, load  # noqa: F401
from . import llm_ops  # noqa: F401  (registers documents/embeddings queries)
from . import extended  # noqa: F401  (as-of, rollup, resample, G4/T8/G5)
from . import tpch_full  # noqa: F401  (TPC-H shape completion Q2..Q21)
from . import pipeline_text  # noqa: F401  (corpus curation: repetition, PII, contamination)
from . import scale_ops  # noqa: F401  (HLL sketch, stratified sample, z-order, streaming dedup)
from . import python_api  # noqa: F401  (applyInPandas, pandas UDAF, Python UDTF)
from . import pathbound  # noqa: F401  (W1/W2/W4 pipelines gate-embedded via derived inputs)
from . import advanced  # noqa: F401  (SCD2, PageRank, sorted-neighborhood, bitmap distinct)
from . import dedup_lsh  # noqa: F401  (LSH edges/clusters, passage spans, line/URL dedup)
from . import similarity_ann  # noqa: F401  (PQ, IVFADC, proximity search, bitext mining)
from . import text_curation  # noqa: F401  (mixing, Gopher rules, curation end to end)
from . import lm_tokenizer  # noqa: F401  (BPE, bigram LM, perceptron, DSIR)
from . import media  # noqa: F401  (GIF/JPEG decode, perceptual-hash near-dups)
from . import streaming_ingest  # noqa: F401  (foreachBatch ingestion folds)
from . import file_pipelines  # noqa: F401  (CSV/HTML/JSONL/report, paged source, shards)
from . import relational  # noqa: F401  (bucketing, partition pruning, Bloom, deciles)
