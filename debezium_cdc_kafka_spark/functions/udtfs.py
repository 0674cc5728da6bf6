"""Python UDTF surface (table functions).

Completes the user-function matrix from SURVEY §2.6: scalar `udf`,
Arrow `pandas_udf` (operators/stats.py), grouped `applyInPandas` /
`mapInPandas` (multimodal) — and here the table-valued form: one input
row → N output rows, usable in SQL FROM/LATERAL position.

The demo UDTF emits the same sliding chunk spans as the pure-column
q_doc_chunking (operators/text.py), and test_udtf.py proves the two
agree row-for-row — the point being that a UDTF is the ESCAPE HATCH for
row-expansion logic too irregular for `sequence()`/`explode` (tokenizer
state machines, packing heuristics), at the cost of leaving whole-stage
codegen. Prefer the column form when it exists; q_doc_chunking stays
the production path.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="chunk_idx int, start_off bigint, chunk_len bigint")
class ChunkSpans:
    """Sliding windows of size `size` advancing by `stride` over a
    document of `n_chars` characters; every document yields ≥1 chunk."""

    def eval(self, n_chars: int, size: int, stride: int):
        if n_chars is None:
            return
        n = max(1, -(-(max(n_chars, 1) - (size - stride)) // stride))
        for i in range(n):
            start = i * stride
            yield i, start, min(start + size, n_chars) - start


def register_udtfs(spark) -> None:
    spark.udtf.register("chunk_spans", ChunkSpans)
