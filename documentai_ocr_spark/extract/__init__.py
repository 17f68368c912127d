from .core import (
    EXTRACT_SCHEMA,
    SPANS_TYPE,
    WORD_BOX_SCHEMA,
    assemble_conversations,
    extract_batch,
    extract_turns,
    extract_word_boxes,
)

__all__ = [
    "EXTRACT_SCHEMA",
    "SPANS_TYPE",
    "WORD_BOX_SCHEMA",
    "assemble_conversations",
    "extract_batch",
    "extract_turns",
    "extract_word_boxes",
]
