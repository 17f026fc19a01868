"""Document assembly: transcripts -> one document per conversation.

Exact analog of the reference's positional reassembly + title‖abstract concat
(oa_jsonl.c:260-282, 402-410 in /root/reference; SURVEY.md §2.4 A2/A3): we
reassemble from (text, turn_idx) pairs ordered by turn_idx instead of
(word, position) pairs ordered by position. Same verified Catalyst shape:
``groupBy → collect_list(struct) → array_sort → transform → concat_ws`` —
no window, no UDF, one shuffle on conv_id.

Filter semantics mirror the reference's empty-abstract drop (P3,
oa_jsonl.c:386-391): null/empty turn texts are dropped before assembly, and a
conversation whose every turn is empty produces no document row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def assemble_documents(transcripts: DataFrame, *extra: Column) -> DataFrame:
    """-> DataFrame(conv_id string, document string, n_turns long, *extra).

    ``document`` = non-empty turn texts joined with single spaces under
    stable (conv_id, turn_idx) ordering (input rows may arrive in any order).
    ``extra`` are further per-conversation aggregates over the same turns,
    computed in the same pass (the index build adds src_part and doclen).
    """
    turns = transcripts.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    ordered = F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
    return turns.groupBy("conv_id").agg(
        F.concat_ws(" ", F.transform(ordered, lambda s: s.getField("text"))).alias("document"),
        F.count("*").alias("n_turns"),
        *extra,
    )
