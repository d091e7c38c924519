"""PySpark-native document-extraction engine (see README.md).

Public API — the operators a reference-handler user needs, importable from
the package root. Submodules import lazily so `import
ai_service_ocr_grading_handler_spark` stays cheap on executors.
"""

from __future__ import annotations

from ai_service_ocr_grading_handler_spark.core import pyworker as _pyworker

__version__ = "0.1.0"

# Every task function of this package is unpickled inside a worker, which
# imports this module first: one call here covers every Python UDF site.
_pyworker.install()

__all__ = [
    "get_spark",
    "tune_session",
    "extract_pages",
    "extract_blocks",
    "extract_layout_docs",
    "grade",
    "run_extract",
    "read_pages",
    "write_pages_partitioned",
    # training-data curation tier
    "curate_corpus",
    "paragraph_dedup",
    "decontaminate",
    "pack_sequences",
    "chunk_documents",
    "deterministic_split",
    "mix_sources",
    "semantic_dedup",
    # cross-run incremental dedup (append-only frontier)
    "exact_dedup_incremental",
    "minhash_incremental",
    # keyed ledger (MERGE INTO emulation)
    "merge_upsert",
    "read_ledger",
]

_LAZY = {
    "get_spark": ("ai_service_ocr_grading_handler_spark.session", "get_spark"),
    "tune_session": ("ai_service_ocr_grading_handler_spark.session", "tune_session"),
    "extract_pages": ("ai_service_ocr_grading_handler_spark.operators.extract", "extract_pages"),
    "extract_blocks": ("ai_service_ocr_grading_handler_spark.operators.extract", "extract_blocks"),
    "extract_layout_docs": (
        "ai_service_ocr_grading_handler_spark.operators.layout_extract",
        "extract_layout_docs",
    ),
    "grade": ("ai_service_ocr_grading_handler_spark.operators.scoring", "grade"),
    "run_extract": ("ai_service_ocr_grading_handler_spark.plans.lineage", "run_extract"),
    "curate_corpus": (
        "ai_service_ocr_grading_handler_spark.operators.curation",
        "curate_corpus",
    ),
    "paragraph_dedup": ("ai_service_ocr_grading_handler_spark.operators.dedup", "paragraph_dedup"),
    "exact_dedup_incremental": (
        "ai_service_ocr_grading_handler_spark.operators.dedup",
        "exact_dedup_incremental",
    ),
    "minhash_incremental": (
        "ai_service_ocr_grading_handler_spark.operators.dedup",
        "minhash_incremental",
    ),
    "decontaminate": ("ai_service_ocr_grading_handler_spark.operators.dedup", "decontaminate"),
    "pack_sequences": ("ai_service_ocr_grading_handler_spark.operators.packing", "pack_sequences"),
    "chunk_documents": ("ai_service_ocr_grading_handler_spark.operators.packing", "chunk_documents"),
    "deterministic_split": ("ai_service_ocr_grading_handler_spark.operators.sampling", "deterministic_split"),
    "mix_sources": ("ai_service_ocr_grading_handler_spark.operators.sampling", "mix_sources"),
    "semantic_dedup": ("ai_service_ocr_grading_handler_spark.operators.similarity", "semantic_dedup"),
    "merge_upsert": ("ai_service_ocr_grading_handler_spark.plans.lineage", "merge_upsert"),
    "read_ledger": ("ai_service_ocr_grading_handler_spark.plans.lineage", "read_ledger"),
    "read_pages": ("ai_service_ocr_grading_handler_spark.sources.pages", "read_pages"),
    "write_pages_partitioned": (
        "ai_service_ocr_grading_handler_spark.sources.pages",
        "write_pages_partitioned",
    ),
}


def __getattr__(name: str):
    if name in _LAZY:
        import importlib

        mod, attr = _LAZY[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
