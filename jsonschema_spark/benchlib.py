"""The flagship corpus contract: the TableSpec that perfbench's
``corpus_batch`` workload, the driver's corpus queries and the corpus
pipeline tests validate ``sources.corpus`` tables against."""

from __future__ import annotations

from jsonschema_spark.sources.corpus import MAX_TOKENS, VOCAB_SIZE

CORPUS_SPEC_DICT = {
    "columns": {
        "doc_id": {"type": "string", "pattern": "^doc-[0-9]{12}$"},
        "tokens": {
            "type": "array",
            "minItems": 1,
            "items": {"type": "integer", "minimum": 0, "maximum": VOCAB_SIZE - 1},
        },
        "n_tok": {"type": "integer", "minimum": 1, "maximum": MAX_TOKENS},
    },
    "required": ["doc_id", "tokens", "n_tok", "source"],
    "row_checks": {"len_consistent": "n_tok = size(tokens)"},
    "unique": ["doc_id"],
    "references": {"source": {"dim": "dim_source", "key": "source_id"}},
}
