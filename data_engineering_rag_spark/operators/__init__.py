from .asof import asof_join
from .chunker import chunk_documents, sliding_window_starts_sql
from .dedup_cluster import connected_components
from .evalgen import generate_questions
from .ingest import ingest_pipeline, llm_enrich, parse_repo_files
from .multimodal import extract_media_features
from .scale import salted_join
from .tfidf import build_tfidf, search_topk, search_topk_batch

__all__ = [
    "asof_join",
    "chunk_documents",
    "sliding_window_starts_sql",
    "connected_components",
    "generate_questions",
    "ingest_pipeline",
    "llm_enrich",
    "parse_repo_files",
    "extract_media_features",
    "salted_join",
    "build_tfidf",
    "search_topk",
    "search_topk_batch",
]
